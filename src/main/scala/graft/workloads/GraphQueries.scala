package graft.workloads

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CatalogQuery
import graft.operators.HypercubeJoin
import graft.sources.Tables

/** Graph-pattern multi-join workloads (the summerDG fork's signature
  * additions: linear/star/circle/square/wedge pattern queries —
  * reference `P/LinearQueryPerformance.scala:77-91`,
  * `P/StarQueryPerformance.scala:77-91`, `P/CircleQueryPerformance.scala:77-93`,
  * `P/SquareQueryPerformance.scala:72-87`, `P/TwitterQueryPerformance.scala:36-40`).
  *
  * The edge table is derived deterministically from the fixtures (one
  * edge per order's first lineitem, keys folded into a 2003-node id
  * space), so the DuckDB oracle can build the identical graph.
  *
  * Scale design: the reference materializes every matched path through
  * a chained shuffle join — O(paths) rows moved. Where the query only
  * *counts* pattern matches, we instead aggregate to per-node
  * in/out-degrees (O(V) rows) and sum degree products; this is
  * algebraically identical and turns an O(E·d) shuffle into two
  * O(E) aggregations + an O(V) join — the plan that survives a 100 TB
  * edge set. The cyclic (triangle) and square patterns genuinely need
  * the multi-way join, so those keep it.
  */
object GraphQueries {

  private val N = 2003 // prime fold modulus → well-mixed node ids

  /** Derived edge table: distinct (src, tgt), both in [0, N). */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
      .select((col("l_orderkey") % N).as("src"), (col("l_partkey") % N).as("tgt"))
      .distinct()

  private val edgesSql =
    s"""edges AS (
       |  SELECT DISTINCT l_orderkey % $N AS src, l_partkey % $N AS tgt
       |  FROM lineitem WHERE l_linenumber = 1)""".stripMargin

  /** In/out degree per node — the O(V) summary the count queries join. */
  private def degrees(e: DataFrame): (DataFrame, DataFrame) = (
    e.groupBy(col("src")).agg(count(lit(1)).as("outd")),
    e.groupBy(col("tgt")).agg(count(lit(1)).as("ind")))

  /** 5-iteration PageRank in exact e6 integer fixed-point, shared by
    * g07 (full ranking = verification surface) and g07b (bounded
    * top-100 = the 100 TB-shaped output). Per-edge contribution is
    * `p div outdeg` (integer division, identical loss both engines),
    * damping update (85 · Σ) div 100 — every intermediate < 2^62, so
    * DuckDB mirrors it exactly with 5 chained CTEs. Per iteration: one
    * edge⋈rank join co-partitioned on src + one O(V) aggregate — the
    * standard iterative shape; the unrolled 5-deep plan needs no
    * checkpoint (fixed depth, linear lineage). Dangling-node mass
    * decays by design (quality signal, not a distribution). Returns
    * (node, rank_e6) UNSORTED — each caller decides its output shape.
    */
  private def pagerankE6(s: SparkSession, dir: String): DataFrame = {
    // The three loop-invariant relations are materialized ONCE
    // (localCheckpoint: blocks live until the RDD is GC'd, the same
    // lifecycle as the CC loop's). Without this the unrolled 5-deep
    // plan re-derives them per reference — measured 26 parquet scans
    // of lineitem in the final plan (ReusedExchange recovered only
    // 14 of the 40 subtrees); at a 100 TB fact table that is 26 full
    // scans + repeated distincts for what is one scan of data.
    val e = edges(s, dir).localCheckpoint(true)
    val outd = e.groupBy(col("src")).agg(count(lit(1)).as("_d"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("tgt").as("node"))).distinct()
      .localCheckpoint(true)
    var p = nodes.select(col("node"), lit(1000000L).as("p"))
    for (_ <- 1 to 5) {
      val contrib = e
        .join(p, col("src") === col("node")).drop("node")
        .join(outd, Seq("src"))
        .select(col("tgt"), expr("p div _d").as("_c"))
        .groupBy(col("tgt")).agg(sum(col("_c")).as("_c"))
      p = nodes.join(contrib, col("node") === col("tgt"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(_c, 0L)) div 100")).as("p"))
    }
    p.select(col("node"), col("p").as("rank_e6"))
  }

  /** The WITH-clause CTE chain (edges … p5) mirroring [[pagerankE6]]
    * for the DuckDB oracle; callers append their own final SELECT. */
  private val pagerankSqlCtes: String = {
    val iter = (k: Int) =>
      s"""p$k AS (
         |  SELECT n.node,
         |    150000 + (85 * CAST(coalesce(s.c, 0) AS BIGINT)) // 100 AS p
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.tgt AS node, CAST(sum(p.p // d.d) AS BIGINT) AS c
         |    FROM edges e
         |    JOIN p${k - 1} p ON p.node = e.src
         |    JOIN outd d ON d.src = e.src
         |    GROUP BY e.tgt) s USING (node))"""
    s"""$edgesSql,
       |outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT tgt FROM edges),
       |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS p FROM nodes),
       |${(1 to 5).map(iter).mkString(",\n")}""".stripMargin
  }

  val all: Seq[CatalogQuery] = Seq(

    CatalogQuery(
      "g01_chain_count",
      "Linear 2-hop chain count (a.tgt=b.src) — degree-product aggregation instead of path materialization",
      (s, dir) => {
        val e = edges(s, dir)
        val (out, in) = degrees(e)
        in.join(out, col("tgt") === col("src"))
          .agg(coalesce(sum(col("ind") * col("outd")), lit(0L)).as("n_paths"))
      },
      Some(s"""WITH $edgesSql
              |SELECT CAST(count(*) AS BIGINT) AS n_paths
              |FROM edges a JOIN edges b ON a.tgt = b.src""".stripMargin)),

    CatalogQuery(
      "g02_star_count",
      "Star 3-way count (a.tgt=b.src and a.tgt=c.src, shared hub) — indeg·outdeg² aggregation",
      (s, dir) => {
        val e = edges(s, dir)
        val (out, in) = degrees(e)
        in.join(out, col("tgt") === col("src"))
          .agg(coalesce(sum(col("ind") * col("outd") * col("outd")), lit(0L)).as("n_stars"))
      },
      Some(s"""WITH $edgesSql
              |SELECT CAST(count(*) AS BIGINT) AS n_stars
              |FROM edges a
              |JOIN edges b ON a.tgt = b.src
              |JOIN edges c ON a.tgt = c.src""".stripMargin)),

    CatalogQuery(
      "g03_triangle_count",
      "Cyclic triangle count (a.tgt=b.src, b.tgt=c.src, c.tgt=a.src) — genuine multi-way self-join",
      (s, dir) => {
        val e = edges(s, dir)
        val a = e.as("a"); val b = e.as("b"); val c = e.as("c")
        a.join(b, col("a.tgt") === col("b.src"))
          .join(c, col("b.tgt") === col("c.src") && col("c.tgt") === col("a.src"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some(s"""WITH $edgesSql
              |SELECT count(*) AS n_triangles
              |FROM edges a
              |JOIN edges b ON a.tgt = b.src
              |JOIN edges c ON b.tgt = c.src AND c.tgt = a.src""".stripMargin)),

    CatalogQuery(
      "g04_square_count",
      "Square 4-way join with distinctness filters (reference SquareQueryPerformance shape), on a folded subgraph",
      (s, dir) => {
        val e = edges(s, dir).filter(col("src") % 2 === 0 && col("tgt") % 2 === 0)
        val a = e.as("a"); val b = e.as("b"); val c = e.as("c"); val d = e.as("d")
        a.join(b, col("a.src") === col("b.src") && col("a.tgt") =!= col("b.tgt"))
          .join(c, col("a.tgt") === col("c.tgt") && col("c.src") =!= col("a.src"))
          .join(d, col("c.src") === col("d.src") && col("d.tgt") === col("b.tgt") && col("d.tgt") =!= col("c.tgt"))
          .agg(count(lit(1)).as("n_squares"))
      },
      Some(s"""WITH $edgesSql,
              |sq AS (SELECT * FROM edges WHERE src % 2 = 0 AND tgt % 2 = 0)
              |SELECT count(*) AS n_squares
              |FROM sq a
              |JOIN sq b ON a.src = b.src AND a.tgt <> b.tgt
              |JOIN sq c ON a.tgt = c.tgt AND c.src <> a.src
              |JOIN sq d ON c.src = d.src AND d.tgt = b.tgt AND d.tgt <> c.tgt""".stripMargin)),

    CatalogQuery(
      "g05_wedge_count",
      "Out-wedge count (a.src=b.src, a.tgt≠b.tgt) — Σoutdeg²−E closed form vs naive self-join oracle",
      (s, dir) => {
        val e = edges(s, dir)
        val out = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
        val sumSq = out.agg(coalesce(sum(col("outd") * col("outd")), lit(0L)).as("ss"))
        val total = e.agg(count(lit(1)).as("e"))
        sumSq.crossJoin(total).select((col("ss") - col("e")).as("n_wedges"))
      },
      Some(s"""WITH $edgesSql
              |SELECT CAST(count(*) AS BIGINT) AS n_wedges
              |FROM edges a JOIN edges b ON a.src = b.src AND a.tgt <> b.tgt""".stripMargin)),

    CatalogQuery(
      "g06_manymatches_selfjoin",
      "Duplicate-key self-join explosion (JoinPerformance numMatches shape, `P/JoinPerformance.scala:64-70`)",
      (s, dir) => {
        val li = Tables.table(s, dir, "lineitem")
          .filter(col("l_partkey") <= 100)
          .select(col("l_partkey"), col("l_orderkey"))
        li.as("a").join(li.as("b"), col("a.l_partkey") === col("b.l_partkey"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""SELECT count(*) AS n_pairs
             |FROM (SELECT l_partkey FROM lineitem WHERE l_partkey <= 100) a
             |JOIN (SELECT l_partkey FROM lineitem WHERE l_partkey <= 100) b
             |  ON a.l_partkey = b.l_partkey""".stripMargin)),

    CatalogQuery(
      "g07_pagerank",
      "Link-graph quality signal: 5-iteration PageRank in exact integer fixed-point (rank_e6; Common-Crawl-style URL weighting)",
      // Full ranking over every node — the VERIFICATION surface: the
      // trailing global sort is deliberate (total order makes the
      // DuckDB value-compare exact); a 100 TB deployment uses g07b.
      (s, dir) => pagerankE6(s, dir)
        .orderBy(col("rank_e6").desc, col("node")),
      Some(s"""WITH $pagerankSqlCtes
              |SELECT node, CAST(p AS BIGINT) AS rank_e6
              |FROM p5 ORDER BY rank_e6 DESC, node""".stripMargin)),

    CatalogQuery(
      "g07b_pagerank_top100",
      "PageRank top-100 via bounded top-k aggregation — the 100 TB-shaped twin of g07 (no global sort of all nodes)",
      (s, dir) => {
        // Same fixed-point core; the output stage replaces g07's full
        // global sort with the bounded TopKByScore aggregation: each
        // map task pre-folds its nodes to ≤100 candidates, one reducer
        // merges ≤100·tasks rows — O(V) scanned, O(k) shuffled,
        // regardless of graph size. rank_e6 < 2^53 here (node space
        // folded mod 2003, mass ≤ V·1e6), so the double score is exact;
        // ties break by node asc, mirroring the oracle's row_number.
        val topk = udaf(new graft.functions.Aggregators.TopKByScore(100))
        pagerankE6(s, dir)
          .agg(topk(col("rank_e6").cast("double"), col("node")).as("top"))
          .select(posexplode(col("top.items")))
          .select((col("pos") + 1).cast("long").as("rank"),
            col("col.id").as("node"),
            col("col.score").cast("long").as("rank_e6"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH $pagerankSqlCtes,
              |ranked AS (
              |  SELECT row_number() OVER (ORDER BY p DESC, node) AS rank,
              |    node, CAST(p AS BIGINT) AS rank_e6
              |  FROM p5)
              |SELECT CAST(rank AS BIGINT) AS rank, node, rank_e6
              |FROM ranked WHERE rank <= 100 ORDER BY rank""".stripMargin)),

    CatalogQuery(
      "g08_hypercube_triangle",
      "Triangle count via the HyperCube/Shares one-round multi-way replication join (the reference fork's spark.sql.hypercube.* executor, Spark-first) — same result as g03's binary-join plan",
      (s, dir) => {
        // g03's triangle as a NATURAL join over attrs (x, y, z):
        // R1(x,y) ⋈ R2(y,z) ⋈ R3(z,x), run through the hypercube
        // operator with the symmetric 3×3×3 cube (27 cells; the exact
        // share solver returns (3,3,3) for equal sizes — spec-pinned):
        // one replicated-input shuffle to the cells, then a local
        // per-cell fold. The win over g03's plan is not this fixture
        // but SKEW: a heavy shared vertex splits across the other two
        // attrs' 9 cells instead of landing in one reducer — asserted
        // by the spread spec.
        val e = edges(s, dir)
        val rels = Seq(
          HypercubeJoin.Rel(e.select(col("src").as("x"), col("tgt").as("y")), Seq("x", "y")),
          HypercubeJoin.Rel(e.select(col("src").as("y"), col("tgt").as("z")), Seq("y", "z")),
          HypercubeJoin.Rel(e.select(col("src").as("z"), col("tgt").as("x")), Seq("z", "x")))
        val sh = HypercubeJoin.shares(rels.map(r => (r.attrs, 1.0)), 27)
        HypercubeJoin.join(rels, sh)
          .agg(count(lit(1)).as("n_triangles"))
      },
      // value-identical to g03 (the hypercube join is a pure physical
      // re-expression) — the oracle is g03's triangle SQL verbatim
      Some(s"""WITH $edgesSql
              |SELECT count(*) AS n_triangles
              |FROM edges a
              |JOIN edges b ON a.tgt = b.src
              |JOIN edges c ON b.tgt = c.src AND c.tgt = a.src""".stripMargin)),

    CatalogQuery(
      "g08b_hypercube_square",
      "Square count via a 4-attribute ONE-ROUND hypercube (P=32, a 2x2x2x4 cube: single replicated shuffle + per-cell local fold) — g04's equi-skeleton, distinctness filters applied post-join",
      (s, dir) => {
        // g04's square as a natural join over attrs (h, p, q, r):
        // a(h→p), b(h→q), c(r→p), d(r→q) — shared src hub h, shared
        // dst pair (p, q), second src r. The hypercube carries the
        // EQUI skeleton; the three distinctness predicates are
        // post-join filters exactly as in g04's binary plan.
        val e = edges(s, dir).filter(col("src") % 2 === 0 && col("tgt") % 2 === 0)
        val rels = Seq(
          HypercubeJoin.Rel(e.select(col("src").as("h"), col("tgt").as("p")), Seq("h", "p")),
          HypercubeJoin.Rel(e.select(col("src").as("h"), col("tgt").as("q")), Seq("h", "q")),
          HypercubeJoin.Rel(e.select(col("src").as("r"), col("tgt").as("p")), Seq("r", "p")),
          HypercubeJoin.Rel(e.select(col("src").as("r"), col("tgt").as("q")), Seq("r", "q")))
        // P=32 (a (2,2,2,4) cube): one cell per local[32] slot — the
        // cell is the parallelism unit in the one-round executor. At
        // this fixture the replicated-input shuffle dominates either
        // way; the cube sizing matters at the scale where cell LOAD is
        // the bound.
        val sh = HypercubeJoin.shares(rels.map(r => (r.attrs, 1.0)), 32)
        HypercubeJoin.join(rels, sh)
          .filter(col("p") =!= col("q") && col("r") =!= col("h") && col("q") =!= col("p"))
          .agg(count(lit(1)).as("n_squares"))
      },
      // g04's square SQL with the same variable mapping: a=(h,p),
      // b=(h,q), c=(r,p), d=(r,q); g04's three distinctness filters
      // (a.tgt<>b.tgt, c.src<>a.src, d.tgt<>c.tgt) = (p<>q, r<>h, q<>p)
      Some(s"""WITH $edgesSql,
              |sq AS (SELECT * FROM edges WHERE src % 2 = 0 AND tgt % 2 = 0)
              |SELECT count(*) AS n_squares
              |FROM sq a
              |JOIN sq b ON a.src = b.src AND a.tgt <> b.tgt
              |JOIN sq c ON a.tgt = c.tgt AND c.src <> a.src
              |JOIN sq d ON c.src = d.src AND d.tgt = b.tgt AND d.tgt <> c.tgt""".stripMargin)),

    CatalogQuery(
      "g08c_hypercube_planned",
      "Square count via the PLANNED one-round hypercube (custom LogicalPlan + SparkStrategy + SparkPlan: HypercubeJoinExec, single cell Exchange in EXPLAIN) — same semantics as g08b",
      (s, dir) => {
        val e = edges(s, dir).filter(col("src") % 2 === 0 && col("tgt") % 2 === 0)
        val rels = Seq(
          HypercubeJoin.Rel(e.select(col("src").as("h"), col("tgt").as("p")), Seq("h", "p")),
          HypercubeJoin.Rel(e.select(col("src").as("h"), col("tgt").as("q")), Seq("h", "q")),
          HypercubeJoin.Rel(e.select(col("src").as("r"), col("tgt").as("p")), Seq("r", "p")),
          HypercubeJoin.Rel(e.select(col("src").as("r"), col("tgt").as("q")), Seq("r", "q")))
        val sh = HypercubeJoin.shares(rels.map(r => (r.attrs, 1.0)), 32)
        HypercubeJoin.join(rels, sh)
          .filter(col("p") =!= col("q") && col("r") =!= col("h") && col("q") =!= col("p"))
          .agg(count(lit(1)).as("n_squares"))
      },
      // identical semantics to g08b: g04's square SQL
      Some(s"""WITH $edgesSql,
              |sq AS (SELECT * FROM edges WHERE src % 2 = 0 AND tgt % 2 = 0)
              |SELECT count(*) AS n_squares
              |FROM sq a
              |JOIN sq b ON a.src = b.src AND a.tgt <> b.tgt
              |JOIN sq c ON a.tgt = c.tgt AND c.src <> a.src
              |JOIN sq d ON c.src = d.src AND d.tgt = b.tgt AND d.tgt <> c.tgt""".stripMargin)),

    CatalogQuery(
      "g09_kcore_peel",
      "Bounded k-core peeling profile (k=5, 4 rounds) over the undirected fold graph — per-round survivor counts from an iterative degree filter + endpoint semi-joins, the dense-subgraph extraction shape",
      (s, dir) => {
        // Bounded rounds, not a fixpoint, for the same reason as g07b's
        // bounded PageRank: a fixed unrolled depth is what a DuckDB
        // oracle can mirror exactly. At sf0.01 the peel genuinely
        // iterates (1848 -> 1822 -> 1816 -> 1816 survivors); the
        // PROFILE output (one row per round) stays non-empty even when
        // a sparse graph peels to nothing (sf0.001 does by round 2).
        val trace = graft.operators.GraphPatterns
          .kcorePeelTrace(edges(s, dir), 5, 4)
        trace.zipWithIndex.map { case (df, i) =>
          df.agg(
            countDistinct(col("a")).as("n_nodes"),
            count(lit(1)).as("n_edges"))
            .select(lit((i + 1).toLong).as("round"),
              col("n_nodes"), col("n_edges"))
        }.reduce(_ unionByName _).orderBy(col("round"))
      },
      Some {
        val rounds = (1 to 4).map { r =>
          val prev = if (r == 1) "sym" else s"e${r - 1}"
          s"""k$r AS (SELECT a FROM $prev GROUP BY a HAVING count(*) >= 5),
             |e$r AS (SELECT s.a, s.b FROM $prev s
             |        JOIN k$r x ON s.a = x.a JOIN k$r y ON s.b = y.a)"""
            .stripMargin
        }.mkString(",\n")
        val profile = (1 to 4).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS round,
             |  count(DISTINCT a) AS n_nodes, count(*) AS n_edges
             |FROM e$r""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $edgesSql,
           |sym AS (SELECT src AS a, tgt AS b FROM edges WHERE src <> tgt
           |        UNION
           |        SELECT tgt, src FROM edges WHERE src <> tgt),
           |$rounds
           |$profile
           |ORDER BY round""".stripMargin
      }),

    CatalogQuery(
      "g10_triangle_estimate",
      "DOULION-style sampled triangle estimate (Tsourakakis et al. KDD'09): deterministic md5 edge sampling at 1/4, exact count on the sampled graph scaled by 4^3 — the petabyte path for cyclic counting, with exact g03/g08 as the calibration baseline",
      (s, dir) => {
        // The estimate-vs-exact pairing of tx22-vs-tx21, on the graph
        // side: g03's exact 3-way self-join moves every wedge through
        // the shuffle; sampling at p=1/4 cuts edges 4x and wedge
        // fanout 16x BEFORE the join runs. The md5 coin (same segment
        // chain as dd03's signatures) makes the sample deterministic,
        // so the estimator itself is value-oracled — not just its
        // expectation. GraphPatternsSpec pins m=1 == exact and the
        // fixture-level calibration vs g03.
        graft.operators.GraphPatterns
          .sampledTriangles(edges(s, dir), 4)
      },
      Some(s"""WITH $edgesSql,
              |se AS (SELECT * FROM edges
              |  WHERE ('0x' || substr(md5(src::VARCHAR || '_' || tgt::VARCHAR), 1, 8))::BIGINT % 4 = 0)
              |SELECT CAST(count(*) AS BIGINT) AS n_sampled,
              |  CAST(count(*) * 64 AS BIGINT) AS est_triangles
              |FROM se a
              |JOIN se b ON a.tgt = b.src
              |JOIN se c ON b.tgt = c.src AND c.tgt = a.src""".stripMargin)),

    CatalogQuery(
      "g11_link_prediction",
      "Common-neighbor link prediction (triangle-closing recommendation): non-adjacent wedge endpoints ranked by shared-neighbor count, top-20 — hub wedge-centers (degree > 64) excluded, so the quadratic wedge fanout is capped and the top-k is a bounded TakeOrdered",
      (s, dir) => {
        // The recommendation-system primitive over the same fold
        // graph the pattern counts use: a pair sharing many neighbors
        // but no edge is the canonical predicted link (common
        // neighbors = the zero-hyperparameter baseline every link
        // predictor is measured against). Semantics + scale notes in
        // GraphPatterns.commonNeighborLinks: degCap bounds per-center
        // fanout, pair counts map-combine, the exclusion join is
        // hashed, and the final 20 rows come off a TakeOrdered.
        graft.operators.GraphPatterns
          .commonNeighborLinks(edges(s, dir), degCap = 64, k = 20)
      },
      Some(s"""WITH $edgesSql,
              |sym AS (SELECT src AS a, tgt AS b FROM edges WHERE src <> tgt
              |        UNION
              |        SELECT tgt, src FROM edges WHERE src <> tgt),
              |okc AS (SELECT a AS c FROM sym GROUP BY a
              |        HAVING count(*) <= 64),
              |w AS (SELECT s.b AS c, s.a AS u FROM sym s
              |      JOIN okc ON s.b = okc.c),
              |cand AS (
              |  SELECT x.u AS u, y.u AS v, count(*) AS common_neighbors
              |  FROM w x JOIN w y ON x.c = y.c AND x.u < y.u
              |  GROUP BY 1, 2),
              |ne AS (SELECT cand.u, cand.v, cand.common_neighbors
              |       FROM cand LEFT JOIN sym
              |         ON cand.u = sym.a AND cand.v = sym.b
              |       WHERE sym.a IS NULL)
              |SELECT u, v, CAST(common_neighbors AS BIGINT)
              |    AS common_neighbors
              |FROM ne
              |ORDER BY common_neighbors DESC, u, v LIMIT 20""".stripMargin)),

    CatalogQuery(
      "g12_bounded_reach",
      "Bounded BFS reachability: min-hop distance (<= 3) from the deterministic seed set (nodes = 0 mod 100) over the undirected fold graph — the contamination-spread / ego-expansion primitive; per round one frontier-only hashed join + one anti-join dedup, never a whole-graph fixpoint",
      (s, dir) => {
        // How far does influence/contamination spread in k hops from
        // a flagged set — the bounded form of reachability a pipeline
        // actually runs (a fixpoint is unbounded on an adversarial
        // graph; 2-3 hops is the actionable radius). Semantics +
        // scale notes in GraphPatterns.boundedReach; seeds are
        // derived from the graph itself so the query is closed over
        // the fixture tables.
        val e = edges(s, dir)
        val nodes = e.filter(col("src") =!= col("tgt"))
          .select(col("src").as("v"))
          .union(e.filter(col("src") =!= col("tgt"))
            .select(col("tgt").as("v")))
          .distinct()
        val seeds = nodes.filter(pmod(col("v"), lit(100)) === 0)
        graft.operators.GraphPatterns.boundedReach(e, seeds, 3)
          .orderBy(col("v"))
      },
      Some(s"""WITH $edgesSql,
              |sym AS (SELECT src AS a, tgt AS b FROM edges WHERE src <> tgt
              |        UNION
              |        SELECT tgt, src FROM edges WHERE src <> tgt),
              |nodes AS (SELECT DISTINCT a AS v FROM sym),
              |r0 AS (SELECT v, 0 AS hops FROM nodes WHERE v % 100 = 0),
              |n1 AS (SELECT DISTINCT s.b AS v, 1 AS hops
              |       FROM sym s JOIN r0 ON s.a = r0.v
              |       WHERE s.b NOT IN (SELECT v FROM r0)),
              |r1 AS (SELECT * FROM r0 UNION ALL SELECT * FROM n1),
              |n2 AS (SELECT DISTINCT s.b AS v, 2 AS hops
              |       FROM sym s JOIN n1 ON s.a = n1.v
              |       WHERE s.b NOT IN (SELECT v FROM r1)),
              |r2 AS (SELECT * FROM r1 UNION ALL SELECT * FROM n2),
              |n3 AS (SELECT DISTINCT s.b AS v, 3 AS hops
              |       FROM sym s JOIN n2 ON s.a = n2.v
              |       WHERE s.b NOT IN (SELECT v FROM r2)),
              |r3 AS (SELECT * FROM r2 UNION ALL SELECT * FROM n3)
              |SELECT v, CAST(hops AS BIGINT) AS hops
              |FROM r3 ORDER BY v""".stripMargin)),
  )
}
