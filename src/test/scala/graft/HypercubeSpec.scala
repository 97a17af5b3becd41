package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.HypercubeJoin
import graft.operators.HypercubeJoin.Rel

/** HyperCube/Shares one-round multi-way join (operators/HypercubeJoin):
  * exact share solver, natural-join parity with the binary-join plan,
  * exactly-once results, and the skew-spread property that is the
  * operator's reason to exist. */
class HypercubeSpec extends SparkSpec {

  // deterministic synthetic edges: ~300 edges over 40 nodes, dense
  // enough for triangles
  private def synthEdges: DataFrame =
    spark.range(300).select(
      pmod(xxhash64(col("id"), lit(1)), lit(40)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(40)).as("tgt"))
      .distinct()

  /** The one-round property, readable in the executed plan: the
    * HypercubeJoin node with a SINGLE cell shuffle under it (the
    * replicated-input exchange; the inputs' own shuffles match other
    * keys). With AQE the string repeats the tree as Final + Initial,
    * so only the final section is counted. */
  private def assertOneCellExchange(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("HypercubeJoin"), s"strategy did not fire:\n$plan")
    assert("Exchange hashpartitioning\\(_hc_cell".r.findAllIn(finalPlan).size == 1,
      s"expected exactly one cell exchange:\n$plan")
  }

  test("shares: symmetric triangle gets the symmetric cube; skewed sizes push the big relation's missing attr to share 1") {
    val tri = Seq(Seq("x", "y") -> 1.0, Seq("y", "z") -> 1.0, Seq("z", "x") -> 1.0)
    assert(HypercubeJoin.shares(tri, 27) == Map("x" -> 3, "y" -> 3, "z" -> 3))
    // product is exactly P for every solution
    val sh64 = HypercubeJoin.shares(tri, 64)
    assert(sh64.values.product == 64)
    // R1(x,y) enormous -> replicating it is the dominant cost -> its
    // missing attr z must get share 1 (R1 is then never replicated)
    val skew = HypercubeJoin.shares(
      Seq(Seq("x", "y") -> 1e6, Seq("y", "z") -> 10.0, Seq("z", "x") -> 10.0), 27)
    assert(skew("z") == 1, s"big relation still replicated: $skew")
    assert(skew("x") * skew("y") == 27)
  }

  test("join: natural-join parity with the binary-join plan, payload columns carried, results exactly once") {
    val e = synthEdges
    val rels = Seq(
      Rel(e.select(col("src").as("x"), col("tgt").as("y"),
        (col("src") * 1000 + col("tgt")).as("r1_payload")), Seq("x", "y")),
      Rel(e.select(col("src").as("y"), col("tgt").as("z")), Seq("y", "z")),
      Rel(e.select(col("src").as("z"), col("tgt").as("x")), Seq("z", "x")))
    val sh = HypercubeJoin.shares(rels.map(r => (r.attrs, 1.0)), 27)
    val cube = HypercubeJoin.join(rels, sh)
      .select("x", "y", "z", "r1_payload")
    // the same triangle join, binary-join formulation
    val a = e.as("a"); val b = e.as("b"); val c = e.as("c")
    val plain = a.join(b, col("a.tgt") === col("b.src"))
      .join(c, col("b.tgt") === col("c.src") && col("c.tgt") === col("a.src"))
      .select(col("a.src").as("x"), col("a.tgt").as("y"), col("b.tgt").as("z"),
        (col("a.src") * 1000 + col("a.tgt")).as("r1_payload"))
    val got = cube.collect().map(_.toString).sorted.toSeq
    val want = plain.collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty, "fixture produced no triangles — strengthen synthEdges")
    // sorted-multiset equality: parity AND exactly-once (a replication
    // bug would duplicate rows, a coordinate bug would drop them)
    assert(got == want)
  }

  test("join: 4-attribute square parity (g08b's shape) on a dense synthetic graph") {
    val e = synthEdges
    val rels = Seq(
      Rel(e.select(col("src").as("h"), col("tgt").as("p")), Seq("h", "p")),
      Rel(e.select(col("src").as("h"), col("tgt").as("q")), Seq("h", "q")),
      Rel(e.select(col("src").as("r"), col("tgt").as("p")), Seq("r", "p")),
      Rel(e.select(col("src").as("r"), col("tgt").as("q")), Seq("r", "q")))
    val sh = HypercubeJoin.shares(rels.map(r => (r.attrs, 1.0)), 16)
    assert(sh.values.product == 16)
    val cube = HypercubeJoin.join(rels, sh)
      .filter(col("p") =!= col("q") && col("r") =!= col("h"))
      .select("h", "p", "q", "r")
    val a = e.as("a"); val b = e.as("b"); val c = e.as("c"); val d = e.as("d")
    val plain = a.join(b, col("a.src") === col("b.src") && col("a.tgt") =!= col("b.tgt"))
      .join(c, col("a.tgt") === col("c.tgt") && col("c.src") =!= col("a.src"))
      .join(d, col("c.src") === col("d.src") && col("d.tgt") === col("b.tgt"))
      .select(col("a.src").as("h"), col("a.tgt").as("p"),
        col("b.tgt").as("q"), col("c.src").as("r"))
    val got = cube.collect().map(_.toString).sorted.toSeq
    val want = plain.collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty, "no squares in the synthetic graph — densify synthEdges")
    assert(got == want)
  }

  test("join: the physical operator matches the binary-join plan on triangle and square, with exactly ONE exchange") {
    val e = synthEdges
    val tri = Seq(
      Rel(e.select(col("src").as("x"), col("tgt").as("y"),
        (col("src") * 1000 + col("tgt")).as("r1_payload")), Seq("x", "y")),
      Rel(e.select(col("src").as("y"), col("tgt").as("z")), Seq("y", "z")),
      Rel(e.select(col("src").as("z"), col("tgt").as("x")), Seq("z", "x")))
    val shTri = HypercubeJoin.shares(tri.map(r => (r.attrs, 1.0)), 27)
    val planned = HypercubeJoin.join(tri, shTri)
      .select("x", "y", "z", "r1_payload")
    val got = planned.collect().map(_.toString).sorted.toSeq
    val a = e.as("a"); val b = e.as("b"); val c = e.as("c")
    val want = a.join(b, col("a.tgt") === col("b.src"))
      .join(c, col("b.tgt") === col("c.src") && col("c.tgt") === col("a.src"))
      .select(col("a.src").as("x"), col("a.tgt").as("y"), col("b.tgt").as("z"),
        (col("a.src") * 1000 + col("a.tgt")).as("r1_payload"))
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty && got == want)
    assertOneCellExchange(planned)

    val sq = Seq(
      Rel(e.select(col("src").as("h"), col("tgt").as("p")), Seq("h", "p")),
      Rel(e.select(col("src").as("h"), col("tgt").as("q")), Seq("h", "q")),
      Rel(e.select(col("src").as("r"), col("tgt").as("p")), Seq("r", "p")),
      Rel(e.select(col("src").as("r"), col("tgt").as("q")), Seq("r", "q")))
    val shSq = HypercubeJoin.shares(sq.map(r => (r.attrs, 1.0)), 16)
    val gotSq = HypercubeJoin.join(sq, shSq).select("h", "p", "q", "r")
      .collect().map(_.toString).sorted.toSeq
    // the square's equi-skeleton, binary-join formulation
    val d = e.as("d")
    val wantSq = a.join(b, col("a.src") === col("b.src"))
      .join(c, col("a.tgt") === col("c.tgt"))
      .join(d, col("c.src") === col("d.src") && col("d.tgt") === col("b.tgt"))
      .select(col("a.src").as("h"), col("a.tgt").as("p"),
        col("b.tgt").as("q"), col("c.src").as("r"))
      .collect().map(_.toString).sorted.toSeq
    assert(wantSq.nonEmpty && gotSq == wantSq)
  }

  test("cubed: a heavy join value spreads across the other attrs' cells instead of one reducer") {
    import spark.implicits._
    // 60 R1 rows sharing y=0 (the heavy key) with distinct x
    val r1 = (0 until 60).map(i => (i.toLong, 0L)).toDF("x", "y")
    val sh = Map("x" -> 3, "y" -> 3, "z" -> 3)
    val cells = HypercubeJoin.cubed(Rel(r1, Seq("x", "y")), Seq("x", "y", "z"), sh)
      .select("_hc_x", "_hc_y", "_hc_z").distinct().count()
    // binary join on y: all 60 rows meet in ONE reducer. Hypercube:
    // cy is fixed but (cx, cz) spread the key across up to 3*3 cells.
    assert(cells >= 6, s"heavy key spread across only $cells cells")
    // replication factor is exactly the missing attr's share
    val rows = HypercubeJoin.cubed(Rel(r1, Seq("x", "y")), Seq("x", "y", "z"), sh).count()
    assert(rows == 60L * sh("z"))
  }

  test("binary/complex-typed join attributes are rejected loudly by ALL flavors (reference-equality would silently drop matches)") {
    // Array[Byte] compares by REFERENCE in the JVM — two co-located
    // binary attr values that are byte-equal would fail the fold's
    // HashMap-key comparison and the pair would vanish with no error.
    // The guard turns that silent wrong answer into an
    // IllegalArgumentException.
    val binEdges = synthEdges.select(
      unhex(lpad(hex(col("src")), 16, "0")).as("x"),
      col("tgt").as("y"))
    val binRels = Seq(
      Rel(binEdges, Seq("x", "y")),
      Rel(binEdges.select(col("y"), col("x").as("z")), Seq("y", "z")))
    val sh = Map("x" -> 2, "y" -> 2, "z" -> 2)
    val ex = intercept[IllegalArgumentException](HypercubeJoin.join(binRels, sh))
    assert(ex.getMessage.contains("atomic, non-binary"), ex.getMessage)
    // array-typed attrs are equally rejected (same representation hazard)
    val arrRels = Seq(
      Rel(synthEdges.select(array(col("src")).as("x"), col("tgt").as("y")), Seq("x", "y")),
      Rel(synthEdges.select(col("tgt").as("y"), array(col("src")).as("z")), Seq("y", "z")))
    intercept[IllegalArgumentException](HypercubeJoin.join(arrRels, sh))
    // and the guard does NOT fire for payload columns — binary PAYLOAD
    // is carried, never compared, so it stays legal
    val payRels = Seq(
      Rel(synthEdges.select(col("src").as("x"), col("tgt").as("y"),
        unhex(lpad(hex(col("src")), 16, "0")).as("bin_payload")), Seq("x", "y")),
      Rel(synthEdges.select(col("src").as("y"), col("tgt").as("z")), Seq("y", "z")))
    val shTri = Map("x" -> 2, "y" -> 2, "z" -> 1)
    val (p1, p2) = (payRels(0).df.as("p1"), payRels(1).df.as("p2"))
    assert(HypercubeJoin.join(payRels, shTri).count() ==
      p1.join(p2, col("p1.y") === col("p2.y")).count())
  }

  test("autoShares: parquet-backed relations solve from plan statistics with ZERO Spark jobs") {
    // the 100 TB contract: sizing the cube must never force a count()
    // scan of the inputs. Catalyst's optimized-plan stats (parquet
    // footers here) feed the solver; a job-counting listener proves no
    // action ran.
    val e = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("user_id").as("x"), col("event_id").as("y"))
    val rels = Seq(
      Rel(e, Seq("x", "y")),
      Rel(e.select(col("y"), col("x").as("z")), Seq("y", "z")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val sh = HypercubeJoin.autoShares(rels, 16)
      assert(sh.values.product == 16)
      // listener bus is async — wait for it to drain before reading
      org.apache.spark.sql.graftshim.GraftShim.drainListenerBus(spark, 10000)
      assert(jobs.get() == 0, s"autoShares ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the estimates themselves are sane: equal-size relations give
    // a balanced cube
    val est = HypercubeJoin.statsEstimates(rels)
    assert(est.isDefined && est.get.forall(_ > 0))
  }

  test("ensureRegistered is a no-op on an extensions-built session, even called concurrently") {
    // SparkSpec's session registers GraftExtensions at build time — the
    // strategy is in the planner already, so runtime registration must
    // not append a second copy (HypercubeJoin.join calls this on every
    // run)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    assert(spark.sessionState.planner.strategies
      .contains(graft.plans.HypercubeStrategy))
    val before = spark.experimental.extraStrategies
    Await.result(Future.sequence((1 to 8).map(_ => Future {
      graft.plans.HypercubeStrategy.ensureRegistered(spark)
    })), 30.seconds)
    assert(spark.experimental.extraStrategies == before,
      "extensions-built session was mutated by ensureRegistered")
    // and join works on this session with NO manual registration
    val e = synthEdges
    val tri = Seq(
      Rel(e.select(col("src").as("x"), col("tgt").as("y")), Seq("x", "y")),
      Rel(e.select(col("src").as("y"), col("tgt").as("z")), Seq("y", "z")),
      Rel(e.select(col("src").as("z"), col("tgt").as("x")), Seq("z", "x")))
    val sh = HypercubeJoin.shares(tri.map(r => (r.attrs, 1.0)), 8)
    val (a, b, c) = (e.as("a"), e.as("b"), e.as("c"))
    assert(HypercubeJoin.join(tri, sh).count() ==
      a.join(b, col("a.tgt") === col("b.src"))
        .join(c, col("b.tgt") === col("c.src") && col("c.tgt") === col("a.src"))
        .count())
  }

  test("g08 catalog entry matches g03's result on the fixture") {
    // the smoke fixture's folded graph may have zero triangles — the
    // synthetic-edges parity test above guarantees a nonempty case;
    // here the catalog entries must agree whatever the fixture holds
    val g08 = run("g08_hypercube_triangle").collect()(0).getLong(0)
    val g03 = run("g03_triangle_count").collect()(0).getLong(0)
    assert(g08 == g03, s"hypercube $g08 vs binary $g03")
  }

  test("g08b and g08c catalog entries agree on the fixture, each through one cell exchange") {
    val g08b = run("g08b_hypercube_square")
    val g08c = run("g08c_hypercube_planned")
    val (nb, nc) = (g08b.collect()(0).getLong(0), g08c.collect()(0).getLong(0))
    assert(nb == nc, s"g08b $nb vs g08c $nc")
    assertOneCellExchange(g08b)
    assertOneCellExchange(g08c)
  }
}
