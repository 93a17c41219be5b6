package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Oracle._

/** The reference's relational operator surface, re-expressed Spark-first.
  *
  * Operator inventory mirrored from SURVEY.md §2.1
  * (`dolomite/src/operator/{table_scan,filter,projection,join,limit}.rs`):
  * scan (with pushed limit), filter(+column subset), projection, equi hash
  * join (any join type), limit. Every query is a declarative DataFrame plan —
  * Catalyst performs the reference's rewrite rules (limit merge, limit
  * pushdown, filter/projection pushdown into the parquet scan, join side
  * selection) automatically; graft.rules re-implements the reference's named
  * rules explicitly for demonstration.
  *
  * Determinism contract (driver hash-compares against DuckDB): every result
  * is either totally ordered by a unique key or reduced to an
  * order-independent aggregate; double aggregation goes through
  * [[Oracle.dsum]].
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // LogicalScan → PhysicalTableScan (table_scan.rs:13-86): plain parquet
    // scan; column pruning + pushdown come from Catalyst.
    "scan" -> { (s, d) =>
      Tables(s, d).region.orderBy("r_regionkey")
    },
    // TableScan{limit} (table_scan.rs:16-19): limit pushed into the scan.
    // Wrapped in count(*) so the row *choice* (nondeterministic) cancels out
    // while the limit semantics stay verified.
    "scan_limit" -> { (s, d) =>
      Tables(s, d).lineitem.limit(100).agg(count(lit(1)).as("n"))
    },
    // The DSv2 SyntheticSource inside the CORRECTNESS gate (not only
    // SourceSpec): its deterministic rows (id, id/2.0, 't'||id%10) are
    // replicable via generate_series in DuckDB, so the custom source's
    // range-filter + column pushdown are verified end to end through a
    // real query — source rows filter to [0,100) INSIDE the scan, the
    // 100-row survivor set broadcasts under the parquet fact scan, and
    // one aggregate shuffles. The DSv2 join-the-lakehouse shape: a
    // programmatic dimension (date spine, tenant table, shard map)
    // joined against parquet facts without materializing it anywhere.
    "scan_source_join" -> { (s, d) =>
      val src = s.read.format("graft.sources.SyntheticSource")
        .option("rows", "1000000").load()
        .filter(col("id") < 100).select(col("id"), col("tag"))
      Tables(s, d).documents
        .join(broadcast(src), (col("doc_id") % 100) === col("id"))
        .groupBy("tag")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("tag")
    },
    // STORAGE-PARTITIONED JOIN over the DSv2 source: both sides load with
    // byTag key-grouped layout (SupportsReportPartitioning +
    // HasPartitionKey per partition), so the tag join needs NO exchange on
    // either side — the source's layout IS the join distribution. This is
    // the DSv2 read-side analog of data_sink_bucketed's write-side bucket
    // co-location, and at 100 TB it is the difference between shuffling
    // two corpus-scale inputs and shuffling neither. The shuffle_hash
    // hint pins a hash join (broadcast would hide the demonstrandum);
    // SourceSpec asserts the exchange-free plan, the oracle checks values.
    "scan_source_spj" -> { (s, d) =>
      // the conf lives on a new session, so the caller's stays untouched
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      def t(rows: Int) = s2.read.format("graft.sources.SyntheticSource")
        .option("rows", rows.toString).option("byTag", "true").load()
      t(4000).select(col("id").as("ida"), col("tag"))
        .join(t(2000).select(col("id").as("idb"), col("tag"))
          .hint("shuffle_hash"), Seq("tag"))
        .groupBy("tag")
        .agg(count(lit(1)).as("n_pairs"), sum(col("ida")).as("sum_ida"))
        .orderBy("tag")
    },
    // LogicalFilter with projected_columns (filter.rs:14-27): predicate plus
    // column subset in one operator — Catalyst pushes both into the scan.
    "filter_project" -> { (s, d) =>
      Tables(s, d).lineitem
        .filter(col("l_quantity") >= 30 &&
          col("l_shipdate") < lit("1995-06-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
    // LogicalProjection (projection.rs:15-28): computed expression list.
    // Per-row double arithmetic — bit-exact across engines, no decimal cast.
    "projection" -> { (s, d) =>
      Tables(s, d).lineitem
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("disc_price"),
          ((col("l_extendedprice") * (lit(1.0) - col("l_discount"))) *
            (lit(1.0) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    // RemoveLimitRule semantics (rules/limit.rs:73-115): Limit(100, Limit(500))
    // collapses to Limit(100); count(*) verifies the merged cardinality.
    "limit_merge" -> { (s, d) =>
      Tables(s, d).lineitem.limit(500).limit(100).agg(count(lit(1)).as("n"))
    },
    // PushLimitOverProjectionRule semantics (rules/limit.rs:33-71).
    "limit_over_projection" -> { (s, d) =>
      Tables(s, d).lineitem
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("disc_price"))
        .limit(50)
        .agg(count(lit(1)).as("n"))
    },
    // Deterministic ordered limit → Spark plans TakeOrderedAndProject (top-k,
    // no global sort — the scalable form of Limit at 100 TB).
    "topk" -> { (s, d) =>
      Tables(s, d).lineitem
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(20)
    },
    // LogicalJoin/PhysicalHashJoin, equi inner (join.rs:14-33; equi-only
    // enforced at integration conversion/mod.rs:13-30). Aggregated so join
    // output order cancels; at scale this is a shuffled hash/sort-merge join
    // on the key with partial aggregation above it.
    "inner_hash_join" -> { (s, d) =>
      val t = Tables(s, d)
      t.orders.join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    // CommutateJoinRule (rules/join.rs:27-69): same join, build side swapped —
    // result must be identical; Catalyst/AQE pick the physical side.
    "join_commute" -> { (s, d) =>
      val t = Tables(s, d)
      t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    // Join type surface beyond Inner (the reference's Join struct admits all
    // DataFusion JoinTypes, join.rs:15-18): left outer.
    "join_left" -> { (s, d) =>
      val t = Tables(s, d)
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
    "join_semi" -> { (s, d) =>
      val t = Tables(s, d)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    "join_anti" -> { (s, d) =>
      val t = Tables(s, d)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    "join_full" -> { (s, d) =>
      val t = Tables(s, d)
      t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "full")
        .groupBy(coalesce(col("c_custkey"), col("o_custkey")).as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },
    // Right outer: Spark plans it as the mirrored left-outer (build side
    // flips), preserving the unmatched right rows — the n_orders=0
    // customers distinguish it from inner.
    "join_right" -> { (s, d) =>
      val t = Tables(s, d)
      t.orders.join(t.customer, col("o_custkey") === col("c_custkey"),
          "right")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
    "cross_join" -> { (s, d) =>
      val t = Tables(s, d)
      t.region.crossJoin(t.nation).agg(count(lit(1)).as("n"))
    },
    // Beyond the reference's equi-only conversion: theta/non-equi join —
    // Catalyst handles it (BroadcastNestedLoopJoin for the extra conjunct).
    "non_equi_join" -> { (s, d) =>
      val t = Tables(s, d)
      val a = t.nation.select(col("n_nationkey").as("k1"),
        col("n_regionkey").as("r1"))
      val b = t.nation.select(col("n_nationkey").as("k2"),
        col("n_regionkey").as("r2"))
      a.join(b, col("r1") === col("r2") && col("k1") < col("k2"))
        .select("k1", "k2")
        .orderBy("k1", "k2")
    },
    // Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys MATCH
    // each other — the semantics a plain equality join silently drops
    // (its NULL rows vanish from both sides). Catalyst plans EqualNullSafe
    // as a hash-join key (coalesce+isnull encoding), so this stays a
    // one-shuffle equi-join, not a BNLJ. The NULL bucket is planted via
    // nullif on a mod-11 key; NULLS FIRST is pinned on both engines
    // (their default null orderings differ).
    "join_null_safe" -> { (s, d) =>
      val t = Tables(s, d)
      def keyed(df: DataFrame, key: Column, out: String) =
        df.select(nullif(key % 11, lit(0)).as("k"))
          .groupBy("k").agg(count(lit(1)).as(out))
      val a = keyed(t.orders, col("o_custkey"), "n_orders")
      val b = keyed(t.customer, col("c_custkey"), "n_cust")
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("n_orders"), col("n_cust"))
        .orderBy(col("k").asc_nulls_first)
    }
  )

  def oracles: Map[String, String] = Map(
    "scan" -> "SELECT * FROM region ORDER BY r_regionkey",
    // generate_series replicates the synthetic source's row formula; the
    // same [0,100) filter and modulo join key.
    "scan_source_join" ->
      """WITH src AS (SELECT i AS id, 't' || CAST(i % 10 AS VARCHAR) AS tag
        |  FROM (SELECT unnest(generate_series(0, 99)) AS i) g)
        |SELECT tag, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents JOIN src ON doc_id % 100 = id
        |GROUP BY tag ORDER BY tag""".stripMargin,
    "scan_source_spj" ->
      """WITH a AS (SELECT i AS ida, 't' || CAST(i % 10 AS VARCHAR) AS tag
        |  FROM (SELECT unnest(generate_series(0, 3999)) AS i) g),
        |b AS (SELECT i AS idb, 't' || CAST(i % 10 AS VARCHAR) AS tag
        |  FROM (SELECT unnest(generate_series(0, 1999)) AS i) g)
        |SELECT a.tag AS tag, count(*) AS n_pairs, CAST(sum(ida) AS BIGINT)
        |  AS sum_ida
        |FROM a JOIN b ON a.tag = b.tag GROUP BY 1 ORDER BY a.tag""".stripMargin,
    "scan_limit" ->
      "SELECT count(*) AS n FROM (SELECT * FROM lineitem LIMIT 100) s",
    "filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 30 AND l_shipdate < TIMESTAMP '1995-06-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "projection" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS disc_price,
        |  (l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "limit_merge" ->
      """SELECT count(*) AS n FROM
        |  (SELECT * FROM (SELECT * FROM lineitem LIMIT 500) a LIMIT 100) b"""
        .stripMargin,
    "limit_over_projection" ->
      """SELECT count(*) AS n FROM
        |  (SELECT l_orderkey, l_extendedprice * (1.0 - l_discount) AS disc_price
        |   FROM lineitem LIMIT 50) s""".stripMargin,
    "topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 20""".stripMargin,
    "inner_hash_join" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${sqlSum("l_extendedprice")} AS sum_price
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_commute" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${sqlSum("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_full" ->
      """SELECT coalesce(c_custkey, o_custkey) AS k, count(*) AS n
        |FROM customer FULL JOIN orders ON c_custkey = o_custkey
        |GROUP BY coalesce(c_custkey, o_custkey) ORDER BY k""".stripMargin,
    "join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "cross_join" ->
      "SELECT count(*) AS n FROM region CROSS JOIN nation",
    "non_equi_join" ->
      """SELECT a.n_nationkey AS k1, b.n_nationkey AS k2
        |FROM nation a JOIN nation b
        |  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
        |ORDER BY k1, k2""".stripMargin,
    "join_null_safe" ->
      """WITH a AS (SELECT nullif(o_custkey % 11, 0) AS k,
        |    count(*) AS n_orders FROM orders GROUP BY 1),
        |b AS (SELECT nullif(c_custkey % 11, 0) AS k,
        |    count(*) AS n_cust FROM customer GROUP BY 1)
        |SELECT a.k AS k, n_orders, n_cust
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin
  )
}
