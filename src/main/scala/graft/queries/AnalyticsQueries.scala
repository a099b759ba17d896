package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.TableIO

/**
 * Analytics capabilities beyond the reference surface that come free from
 * Spark (SURVEY.md §2.7 windows/sorts, §2.8 set ops) plus the X4
 * tf-idf-lite scoring — registered so the capability is oracle-verified,
 * not just claimed.
 */
object AnalyticsQueries {

  /** The bipartite part↔supplier co-occurrence graph of lineitem, both
   * directions (`edges`), and its `nodes`. */
  private val partSupplierGraphCtes =
    """edges0 AS (
      |  SELECT DISTINCT CAST(l_partkey * 2 AS BIGINT) AS src,
      |         CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
      |  FROM lineitem),
      |edges AS (SELECT src, dst FROM edges0
      |          UNION ALL SELECT dst, src FROM edges0),
      |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)""".stripMargin

  /** Spark side of [[partSupplierGraphCtes]]: the (src, dst) edges, both
   * directions. */
  private def partSupplierEdges(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val e0 = TableIO.read(s, dir, "lineitem")
      .select((col("l_partkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Each edge with its source's out-degree (`e`). */
  private val outDegreeCtes =
    """deg AS (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY 1),
      |e AS (SELECT edges.src, edges.dst, deg.out_deg
      |      FROM edges JOIN deg ON edges.src = deg.node)""".stripMargin

  /** Mirror of Graph.pageRankCore's 5 fixed-point rounds r1..r5 from r0:
   * each node's `teleport` plus 85% of the degree-split rank of its
   * in-neighbors, in int64 picorank units. */
  private def pageRankRounds(teleport: String): String =
    (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST($teleport
         |         + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(r.rank // e.out_deg) AS BIGINT) AS s
         |    FROM e JOIN r${i - 1} r ON e.src = r.node GROUP BY 1) s
         |  ON n.node = s.node)""".stripMargin
    }.mkString(",\n")

  val all: Seq[Q] = Seq(

    // Star-schema join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region
    // with broadcast dimensions — revenue by region. The multi-join
    // analytics shape the engine must plan well at 100 TB (fact table
    // streams, dims broadcast, single shuffle for the final groupBy).
    // broadcast() hints ONLY on the genuinely fixed-size dims (nation=25
    // rows, region=5 at every SF): customer SCALES with SF, so a hard
    // hint would OOM executors at 100× where size-based AQE broadcast
    // correctly degrades to a shuffle join. At fixture scale AQE still
    // picks broadcast for customer — the hint bought nothing.
    //
    // ADJUDICATION of the standing ~11x-oracle bench row (min-of-5
    // BenchAB `probe_star` at sf0.1, r13): REG (AQE decides) 1.476 s vs
    // FORCED broadcast on orders+customer 1.367 s — the no-hint posture
    // costs ~7 % at this scale and is the 100×-safe plan (the forced
    // form broadcasts an SF-scaling 150 k-row orders side that becomes
    // a multi-GB executor OOM at 100×). The 11× ratio is DuckDB's
    // in-process hash-join floor on a 600 k-row star, not a plan defect:
    // the same shape is 105 CPU-s/7.6 s at 60 M rows in ScaleBench,
    // linear per 10×.
    Q("star_join_revenue",
      (s, dir) => {
        val li = TableIO.read(s, dir, "lineitem")
        val o = TableIO.read(s, dir, "orders")
        val c = TableIO.read(s, dir, "customer")
        val n = TableIO.read(s, dir, "nation")
        val r = TableIO.read(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(r("r_name"))
          .agg(
            count(lit(1)).as("n_items"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
              .cast("double").as("revenue"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name, count(*) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name
             |ORDER BY r_name""".stripMargin)),

    // TPC-H Q5 shape: two fact-to-dim equi-joins PLUS a cross-dimension
    // equality (customer and supplier in the same nation) — the join
    // topology where planners go wrong at scale (the cross-dim predicate
    // must stay a post-join filter, never a shuffle of its own).
    // Also the only query exercising the supplier table. Like
    // star_join_revenue above: no broadcast() hints on supplier/customer
    // (both SF-scaling — a hard hint is a 100×-scale OOM); only the
    // fixed 25-row nation keeps its hint, everything else is left to
    // size-based/AQE join selection.
    Q("local_supplier_revenue",
      (s, dir) => {
        val li = TableIO.read(s, dir, "lineitem")
        val o = TableIO.read(s, dir, "orders")
        val c = TableIO.read(s, dir, "customer")
        val sup = TableIO.read(s, dir, "supplier")
        val n = TableIO.read(s, dir, "nation")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(sup, li("l_suppkey") === sup("s_suppkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .filter(c("c_nationkey") === sup("s_nationkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name"))
          .agg(
            count(lit(1)).as("n_items"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
              .cast("double").as("revenue"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, count(*) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE c_nationkey = s_nationkey
             |GROUP BY n_name
             |ORDER BY n_name""".stripMargin)),

    // §2.7 — window functions: per-user running totals + previous-event
    // deltas over event time.
    Q("window_running",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        TableIO.read(s, dir, "events")
          .select(
            col("user_id"), col("event_id"),
            row_number().over(w).as("seq"),
            count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("running_n"),
            sum(col("value").cast("decimal(18,6)")).over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double").as("running_value"),
            lag(col("event_id"), 1).over(w).as("prev_event_id"))
          .orderBy("user_id", "seq")
      },
      Some("""SELECT user_id, event_id,
             |  CAST(row_number() OVER w AS INTEGER) AS seq,
             |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS running_n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
             |  lag(event_id, 1) OVER w AS prev_event_id
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, seq""".stripMargin)),

    // §2.8 — set operations: EXCEPT and INTERSECT over deterministic
    // key slices (the reference only has the implicit key-anti-join).
    Q("set_ops",
      (s, dir) => {
        val o = TableIO.read(s, dir, "orders").select("o_orderkey")
        val lowTok = o.filter(pmod(pmod(col("o_orderkey"), lit(2147483648L)) * 2654435761L, lit(100L)) < 60)
        val midTok = o.filter(pmod(pmod(col("o_orderkey"), lit(2147483648L)) * 2654435761L, lit(100L)).between(30, 80))
        lowTok.except(midTok).withColumn("op", lit("except"))
          .union(lowTok.intersect(midTok).withColumn("op", lit("intersect")))
          .orderBy("op", "o_orderkey")
      },
      Some("""WITH low AS (SELECT o_orderkey FROM orders WHERE ((o_orderkey % 2147483648) * 2654435761) % 100 < 60),
             |mid AS (SELECT o_orderkey FROM orders WHERE ((o_orderkey % 2147483648) * 2654435761) % 100 BETWEEN 30 AND 80)
             |SELECT o_orderkey, 'except' AS op FROM (SELECT * FROM low EXCEPT SELECT * FROM mid)
             |UNION ALL
             |SELECT o_orderkey, 'intersect' AS op FROM (SELECT * FROM low INTERSECT SELECT * FROM mid)
             |ORDER BY op, o_orderkey""".stripMargin)),

    // Pivot: event-type counts as columns per user cohort (wide-format
    // reporting shape; Spark pivot == portable FILTER aggregation).
    Q("pivot_stats",
      (s, dir) => TableIO.read(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .orderBy("cohort"),
      Some("""SELECT user_id % 10 AS cohort,
             |  count(*) FILTER (event_type = 'click') AS click,
             |  count(*) FILTER (event_type = 'error') AS error,
             |  count(*) FILTER (event_type = 'purchase') AS purchase,
             |  count(*) FILTER (event_type = 'signup') AS signup,
             |  count(*) FILTER (event_type = 'view') AS view
             |FROM events
             |GROUP BY 1
             |ORDER BY cohort""".stripMargin)),

    // §2.6 — multi-level aggregation (rollup + grouping id): the
    // capability the reference lacks entirely and Spark gives free.
    // NULLS FIRST is pinned explicitly — Spark and DuckDB default
    // opposite null orderings.
    // §2.6 — explicit GROUPING SETS (the shape cube/rollup can't express:
    // an arbitrary set list — here each single dimension + grand total,
    // WITHOUT the (lang, source) pair a cube would add).
    Q("grouping_sets_stats",
      (s, dir) => TableIO.read(s, dir, "documents")
        .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq.empty),
          col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("lang").asc_nulls_first, col("source").asc_nulls_first),
      Some("""SELECT lang, source, count(*) AS n,
             |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
             |FROM documents
             |GROUP BY GROUPING SETS ((lang), (source), ())
             |ORDER BY gid, lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)),

    Q("rollup_stats",
      (s, dir) => TableIO.read(s, dir, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .orderBy(col("gid"), col("lang").asc_nulls_first, col("source").asc_nulls_first),
      Some("""SELECT lang, source, count(*) AS n,
             |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
             |FROM documents
             |GROUP BY ROLLUP (lang, source)
             |ORDER BY gid, lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin)),

    // §2.6 — CUBE: every grouping-set combination (completes the
    // rollup/pivot/cube family). Same NULLS FIRST pinning as rollup.
    Q("cube_stats",
      (s, dir) => TableIO.read(s, dir, "events")
        .withColumn("cohort", pmod(col("user_id"), lit(5L)))
        .cube("event_type", "cohort")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first, col("cohort").asc_nulls_first),
      Some("""SELECT event_type, user_id % 5 AS cohort, count(*) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
             |  CAST(GROUPING(event_type, user_id % 5) AS BIGINT) AS gid
             |FROM events
             |GROUP BY CUBE (event_type, user_id % 5)
             |ORDER BY gid, event_type ASC NULLS FIRST, cohort ASC NULLS FIRST""".stripMargin)),

    // X4 — tf-idf-lite: term frequency × corpus-frequency ratio, no
    // transcendentals so both engines agree bit-for-bit. The doc-frequency
    // join is the inverted-index shuffle pattern (token-keyed).
    Q("text_tfidf",
      (s, dir) => {
        val docs = TableIO.read(s, dir, "documents")
        val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
        val terms = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = terms.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = terms.select("doc_id", "token").distinct()
          .groupBy("token").agg(count(lit(1)).as("df"))
        tf.join(dfreq, "token")
          .crossJoin(broadcast(nDocs))
          .filter(col("doc_id") < 50)
          .select(
            col("doc_id"), col("token"), col("tf"), col("df"),
            (col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
              .as("tfidf_lite"))
          .orderBy("doc_id", "token")
      },
      Some("""WITH terms AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
             |dfreq AS (SELECT token, count(*) AS df
             |          FROM (SELECT DISTINCT doc_id, token FROM terms) GROUP BY token),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
             |SELECT doc_id, token, tf, df,
             |  CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf_lite
             |FROM tf JOIN dfreq USING (token) CROSS JOIN n
             |WHERE doc_id < 50
             |ORDER BY doc_id, token""".stripMargin)),

    // Z-order (Morton) layout: cluster lineitem by the bit-interleave of
    // 8-bit hashes of (l_partkey, l_suppkey) and cut the 16-bit z-domain
    // into 32 equal-width "files"; report each file's min/max envelope on
    // BOTH coordinates — the write-side clustering that lets scan-time
    // min/max pruning skip files on either predicate column (random
    // layout ⇒ every file spans the full domain; z-layout ⇒ ~1/√32 of
    // it). File assignment is pure per-row arithmetic (zval >> 11), so
    // the whole query is scan → groupBy: no window, no global sort — at
    // 100 TB the same zval feeds repartitionByRange + sortWithinPartitions
    // before the write, and THIS query audits the resulting layout.
    Q("zorder_layout",
      (s, dir) => {
        // multiplicative mix before the modulo so both coordinates cover
        // the 8-bit domain at every scale factor (raw l_suppkey spans
        // only 10 values at sf0.001); same arithmetic in the oracle
        val x = pmod(pmod(col("l_partkey"), lit(2147483648L)) * lit(2654435761L), lit(256L))
        val y = pmod(pmod(col("l_suppkey"), lit(2147483648L)) * lit(2654435761L), lit(256L))
        TableIO.read(s, dir, "lineitem")
          .select(x.as("x"), y.as("y"),
            graft.ext.Layout.zorder2(x, y).as("zval"))
          .withColumn("file_id", shiftrightunsigned(col("zval"), 11))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("file_id")
      },
      Some {
        val xSql = "(((l_partkey % 2147483648) * 2654435761) % 256)"
        val ySql = "(((l_suppkey % 2147483648) * 2654435761) % 256)"
        val zSql = graft.ext.Layout.zorder2Sql(xSql, ySql)
        s"""WITH z AS (
           |  SELECT $xSql AS x, $ySql AS y, $zSql AS zval
           |  FROM lineitem)
           |SELECT (zval >> 11) AS file_id, count(*) AS n,
           |  min(x) AS min_x, max(x) AS max_x,
           |  min(y) AS min_y, max(y) AS max_y
           |FROM z
           |GROUP BY 1
           |ORDER BY 1""".stripMargin
      }),

    // X35 — link-graph centrality for corpus curation: 5-round
    // fixed-point PageRank (graft.ext.Graph.pageRankFixed) over the
    // bipartite part↔supplier co-occurrence graph, int64 "picorank"
    // units so the oracle (5 chained CTE rounds below, generated by the
    // same loop) matches bit-for-bit. Top-20 hubs.
    Q("pagerank_top",
      (s, dir) => {
        graft.ext.Graph.pageRankFixed(partSupplierEdges(s, dir), "src", "dst", iters = 5)
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH $partSupplierGraphCtes,
              |nn AS (SELECT count(*) AS n FROM nodes),
              |$outDegreeCtes,
              |consts AS (SELECT 1000000000000 // n AS init,
              |    ((1000000000000 // n) * 15) // 100 AS teleport FROM nn),
              |r0 AS (SELECT node, CAST((SELECT init FROM consts) AS BIGINT) AS rank
              |       FROM nodes),
              |${pageRankRounds("(SELECT teleport FROM consts)")}
              |SELECT node, rank FROM r5
              |ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // X35b — PERSONALIZED PageRank (Haveliwala 2002): teleport mass
    // lands only on the supplier seed set (odd-encoded nodes), so rank
    // measures topic proximity; output = the top-20 PART nodes by
    // seeded rank. Same int64 fixed-point contract; oracle = the same
    // loop-generated CTE chain with seed-conditional teleport/init.
    Q("pagerank_personalized",
      (s, dir) => {
        graft.ext.Graph.pageRankPersonalized(partSupplierEdges(s, dir), "src", "dst",
            seedPred = node => node % 2 === 1, iters = 5)
          .filter(col("node") % 2 === 0)
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some(s"""WITH $partSupplierGraphCtes,
              |ns AS (SELECT count(*) AS n FROM nodes WHERE node % 2 = 1),
              |$outDegreeCtes,
              |consts AS (SELECT 1000000000000 // n AS init,
              |    ((1000000000000 // n) * 15) // 100 AS tp FROM ns),
              |r0 AS (SELECT node,
              |         CAST(CASE WHEN node % 2 = 1 THEN (SELECT init FROM consts)
              |              ELSE 0 END AS BIGINT) AS rank
              |       FROM nodes),
              |${pageRankRounds("CASE WHEN n.node % 2 = 1 THEN (SELECT tp FROM consts) ELSE 0 END")}
              |SELECT node, rank FROM r5
              |WHERE node % 2 = 0
              |ORDER BY rank DESC, node LIMIT 20""".stripMargin))
  )
}
