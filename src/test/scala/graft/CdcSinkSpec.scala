package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS,
  ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.types._

import graft.streaming.{Cdc, ReplaceShim}

/** The CDC sink's partitioning ([[Cdc.sinkPartitioned]]) and the
  * convergence of [[Cdc.applyBatchJdbc]] under replay, checked against
  * the plan and the target that actually run.
  */
class CdcSinkSpec extends AnyFunSuite with SparkSessionTestWrapper
    with AdaptiveSparkPlanHelper {

  private val changeSchema = StructType(Seq(
    StructField("scn", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("key", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** One change: (scn, seq, op, key, value). */
  private type Change = (Long, Long, String, Long, Option[Double])

  private def window(rows: Seq[Change]): DataFrame = {
    val data = rows.map { case (scn, seq, op, k, v) =>
      Row(scn, seq, op, "t", k, v.map(Double.box).orNull)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), changeSchema)
  }

  private def createTarget(tag: String, table: String): String = {
    val dbDir = graft.operators.Migrate.scratchDbDir(tag)
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(s"CREATE TABLE $table " +
      "(k BIGINT PRIMARY KEY, scn BIGINT, seq BIGINT, v DOUBLE)")
    finally conn.close()
    url
  }

  /** The target as (k, scn, seq, v) rows, read over plain JDBC. */
  private def target(url: String, table: String)
      : Set[(Long, Long, Long, Option[Double])] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT k, scn, seq, v FROM $table")
      Iterator.continually(rs).takeWhile(_.next()).map { r =>
        val v = Option(r.getObject(4)).map(_ => r.getDouble(4))
        (r.getLong(1), r.getLong(2), r.getLong(3), v)
      }.toSet
    } finally conn.close()
  }

  /** Spark jobs started while `body` runs, counted by a listener on
    * the job group `body` runs under. Listener events arrive in order,
    * so once a sentinel job run afterwards has ended, every job of
    * `body` has been seen.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cdc-sink-${System.nanoTime}"
    val sentinel = group + "-sentinel"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) groups.put(e.jobId, g)
        if (g == group) started.incrementAndGet()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groups.get(e.jobId) == sentinel) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job end never reached the listener")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  private def shuffles(p: SparkPlan) =
    collect(p) { case e: ShuffleExchangeExec => e }

  /** The arg-max's own plan: one hash exchange on (table_name, key)
    * with a partial aggregate on its map side, then the reduced keys
    * coalesced onto `n` partitions — each key in exactly one of them.
    */
  private def assertCombinedThenCoalesced(df: DataFrame, n: Int,
      want: Set[Row]): Unit = {
    val plan = df.queryExecution.executedPlan
    val ex = shuffles(plan)
    assert(ex.size == 1, plan.treeString)
    assert(ex.head.shuffleOrigin == ENSURE_REQUIREMENTS, plan.treeString)
    ex.head.outputPartitioning match {
      case HashPartitioning(exprs, _) =>
        assert(exprs.map {
          case a: AttributeReference => a.name
          case e => e.sql
        } == Seq("table_name", "key"), plan.treeString)
      case other => fail(s"not a hash exchange: $other")
    }
    assert(collect(ex.head.child) {
      case a: BaseAggregateExec
          if a.aggregateExpressions.nonEmpty &&
            a.aggregateExpressions.forall(_.mode == Partial) => a
    }.size == 1, plan.treeString)
    assert(collect(plan) { case c: CoalesceExec => c.numPartitions } ==
      Seq(n), plan.treeString)
    assert(df.rdd.getNumPartitions <= n)
    val keys = df.rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(1)).toSeq))
      .collect().flatten
    assert(keys.length == keys.distinct.length)
    assert(df.collect().toSet == want)
  }

  test("sink partitioning: a driver-held window bound for a " +
    "single-writer target is reduced and written in one job with no " +
    "shuffle; a scanned window, or a server target, keeps the map-side " +
    "combine and coalesces onto the sink's connections") {
    val rows: Seq[Change] = (1 to 60).map(i =>
      (i / 3L, i % 3L, if (i % 7 == 0) "DELETE" else "UPDATE",
        i % 17L, if (i % 5 == 0) None else Some(i * 1.0)))
    val batch = window(rows)
    val want = Cdc.lastChange(batch).collect().toSet

    // embedded Derby, driver-held window: one connection, a narrow
    // coalesce, no Exchange
    val url = createTarget("cdc_sink_plan", "P")
    assert(Cdc.sinkConnections(url) == 1)
    val single = Cdc.sinkPartitioned(batch, url)
    assert(shuffles(single.queryExecution.executedPlan).isEmpty,
      single.queryExecution.executedPlan.treeString)
    assert(single.rdd.getNumPartitions == 1)
    assert(single.collect().toSet == want)
    // the window and its redelivery: one job each
    for (_ <- 1 to 2)
      assert(jobsOf(Cdc.applyBatchJdbc(batch, url, "P")) == 1)
    assert(target(url, "P").size ==
      want.count(_.getAs[String]("op") != "DELETE"))

    // the same window scanned from parquet, to the same target: the
    // scan stays parallel, the reduced keys go to the one writer
    val dir = graft.operators.Migrate.tempDir("cdc_sink_scan") + "/w"
    batch.write.parquet(dir)
    assertCombinedThenCoalesced(
      Cdc.sinkPartitioned(spark.read.parquet(dir), url), 1, want)

    // a server URL (planned only, never connected): the same plan,
    // coalesced onto JdbcConnections partitions
    val server = "jdbc:mysql://h/db"
    assert(Cdc.sinkConnections(server) == Cdc.JdbcConnections)
    assertCombinedThenCoalesced(Cdc.sinkPartitioned(batch, server),
      Cdc.JdbcConnections, want)
  }

  test("property: windows applied in SCN order through every sink " +
    "dialect, each possibly redelivered and permuted, converge to " +
    "applyChanges over their union") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    // a log: (scn, seq) strictly increasing, scn ties within a
    // transaction, ops over a few keys, NULL values (always on a
    // DELETE tombstone, sometimes on an upsert)
    val change: Gen[(String, Long, Option[Double])] = for {
      op <- Gen.frequency(2 -> "INSERT", 5 -> "UPDATE", 2 -> "DELETE")
      k <- Gen.choose(1L, 8L)
      v <- Gen.frequency(4 -> Gen.choose(-5, 5).map(i => Some(i * 1.5)),
        1 -> Gen.const(None))
    } yield (op, k, if (op == "DELETE") None else v)
    val log: Gen[Seq[Seq[Change]]] = for {
      nWin <- Gen.choose(1, 4)
      sizes <- Gen.listOfN(nWin, Gen.choose(0, 20))
      cs <- Gen.listOfN(sizes.sum, change)
      // 0 = same scn as the previous change (a tie), else the next
      steps <- Gen.listOfN(sizes.sum, Gen.frequency(
        1 -> Gen.const(0L), 2 -> Gen.choose(1L, 3L)))
    } yield {
      val pos = steps.scanLeft((1L, -1L)) { case ((scn, seq), step) =>
        if (step == 0) (scn, seq + 1) else (scn + step, 0L)
      }.tail
      val all = cs.zip(pos).map {
        case ((op, k, v), (scn, seq)) => (scn, seq, op, k, v)
      }
      val bounds = sizes.scanLeft(0)(_ + _)
      bounds.zip(bounds.tail).map { case (a, b) => all.slice(a, b) }
    }
    val delivery = for {
      ws <- log
      redeliver <- Gen.listOfN(ws.size, Gen.oneOf(false, true))
      shuffle <- Gen.long
    } yield (ws, redeliver, shuffle)

    ReplaceShim.ensureRegistered()
    val sinks = Seq(
      ("merge", Cdc.MergeDialect, ""),
      ("deleteinsert", Cdc.DeleteInsertDialect, ""),
      ("replace", Cdc.ReplaceDialect, ReplaceShim.Prefix))
    for ((tag, dialect, prefix) <- sinks) {
      val base = createTarget(s"cdc_conv_$tag", "C")
      val url = prefix + base
      val prop = Prop.forAllNoShrink(delivery) {
        case (ws, redeliver, shuffle) =>
          val conn = java.sql.DriverManager.getConnection(base)
          try conn.createStatement().execute("DELETE FROM C")
          finally conn.close()
          val rnd = new scala.util.Random(shuffle)
          val delivered = ws.zip(redeliver).flatMap { case (w, again) =>
            Seq.fill(if (again) 2 else 1)(rnd.shuffle(w))
          }
          delivered.foreach(w =>
            Cdc.applyBatchJdbc(window(w), url, "C", dialect))
          val want = Cdc.applyChanges(window(delivered.flatten)).collect()
            .map(r => (r.getAs[Long]("key"), r.getAs[Long]("scn"),
              r.getAs[Long]("seq"),
              Option(r.getAs[java.lang.Double]("value"))
                .map(_.doubleValue)))
            .toSet
          val got = target(base, "C")
          Prop(got == want) :| s"target $got != applyChanges $want"
      }
      val seed = Seed.random()
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(100).withInitialSeed(seed), prop)
      assert(res.passed, s"$tag: ${res.status} (replay with " +
        s"withInitialSeed(Seed.fromBase64(\"${seed.toBase64}\").get))")
    }
  }
}
