package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.functions.TextAnalysis
import graft.functions.Similarity
import graft.operators.{TaskModes, TransferdbConfig}
import graft.streaming.{Cdc, ReplaceShim}

/** The benchmark's JVM side: drives the program's public entry points
  * on inputs generated outside it, in a closed loop, and records one
  * entry per operation (latency, success, and what the output checks
  * need). It never judges an output; `perfbench/checks.py` does.
  *
  * {{{
  *   java -cp <classes>:<spark jars> graft.perfbench.Harness \
  *     --workload bulk_migrate --input <dir> --work <dir> \
  *     --seconds 10 --trace 0 --cores 4 --t0-ms <launch epoch ms> \
  *     [--setup-only 1]
  * }}}
  *
  * A run is: session ready, input preparation (untimed), one cold
  * cycle (the first pass a CLI user pays in every fresh JVM), the
  * workload's remaining warm-up cycles (checked, not timed), then
  * cycles until `--seconds` have passed. `setup_s` is launch to
  * session ready plus the cold cycle. Results go to
  * `<work>/result.json`; a traced run also writes `<work>/spans.jsonl`.
  */
object Harness {

  private final case class Op(kind: String, label: String, cycle: Int,
      ms: Double, traced: Boolean, ok: Boolean, error: String,
      obs: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val workload = a("workload")
    val input = a("input")
    val work = a("work")
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traceOn = a.getOrElse("trace", "0") == "1"
    // a set-up-only launch stops after the cold cycle: one more sample
    // of `setup_s`
    val setupOnly = a.getOrElse("setup-only", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val t0Ms = a.get("t0-ms").map(_.toLong).getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime)
    Files.createDirectories(Paths.get(work))

    // the session graft.Bench and graft.Verify measure with
    val spark = SparkSession.builder()
      .appName(s"graft-perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", false)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val tracer = new Tracer(spark)
    if (traceOn) tracer.install()
    val result = mutable.LinkedHashMap.empty[String, Any]
    result("workload") = workload
    try {
      val w: Workload = workload match {
        case "bulk_migrate" => new BulkMigrate(spark, input, work, tracer)
        case "cdc_apply" => new CdcApply(spark, input, work, tracer)
        case other => throw new IllegalArgumentException(
          s"unknown workload: $other")
      }
      val p0 = System.nanoTime()
      w.prepare()
      val prepS = (System.nanoTime() - p0) / 1e9

      val f0 = System.nanoTime()
      w.cycle(-w.warmupCycles)
      val firstPassS = (System.nanoTime() - f0) / 1e9
      result("setup") = Map("session_ready_s" -> sessionReadyS,
        "first_pass_s" -> firstPassS,
        "setup_s" -> (sessionReadyS + firstPassS), "prep_s" -> prepS)
      // the rest of the warm-up: cycles that are checked but not timed,
      // until the JIT has settled on the workload's hot paths
      if (!setupOnly) (1 - w.warmupCycles until 0).foreach(w.cycle)

      val probeStart = if (traceOn) calibrationProbe(spark) else -1.0
      val m0 = System.nanoTime()
      val deadline = m0 + (seconds * 1e9).toLong
      var c = 0
      // a traced run needs two cycles, so each kind of operation is
      // traced once and untraced once (see `op`); a program fast enough
      // to use up the generated input ends early
      while (!setupOnly && w.hasMore &&
          (System.nanoTime() < deadline || (traceOn && c < 2))) {
        tracer.setTrace(s"c$c")
        tracer.span("cycle", always = true)(w.cycle(c))
        c += 1
      }
      result("measure_s") = (System.nanoTime() - m0) / 1e9
      result("cycles") = c
      w.finish()
      if (traceOn) {
        val probeEnd = calibrationProbe(spark)
        tracer.drain()
        Files.writeString(Paths.get(work, "spans.jsonl"), tracer.spansJsonl)
        result("trace") = Map("families" -> tracer.summary(),
          "probe_start_s" -> probeStart, "probe_end_s" -> probeEnd,
          "listener_errors" -> tracer.errors)
      }
      result("ops") = w.ops.map(o => Map("kind" -> o.kind,
        "label" -> o.label, "cycle" -> o.cycle, "ms" -> o.ms,
        "traced" -> o.traced, "ok" -> o.ok, "error" -> o.error,
        "obs" -> o.obs))
      result("extra") = w.extra.toMap
      result("memory") = memoryMb()
    } finally spark.stop()
    Files.writeString(Paths.get(work, "result.json"),
      Json.render(result.toMap))
  }

  /** The pinned CPU + shuffle job of `graft.Bench`'s calibration probe
    * (median of three after one warm run): it moves with host CPU
    * steal, not with the program, so a slow window shows in the
    * artifact.
    */
  private def calibrationProbe(spark: SparkSession): Double = {
    def job(): Unit =
      spark.range(0L, 8000000L, 1L, 16)
        .selectExpr("pmod(xxhash64(id), 65536) AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
        .count(): Unit
    job()
    (1 to 3).map { _ =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)
  }

  /** Peak memory of this JVM, in MB. The heap is fixed and pre-touched
    * (`-Xms` = `-Xmx`, `AlwaysPreTouch`), so the resident peak (VmHWM)
    * holds the whole committed heap whatever the program uses. The
    * program's memory is therefore VmHWM minus the committed heap (the
    * off-heap peak: metaspace, code cache, threads, buffers) plus the
    * peak use of the heap pools that hold objects which outlived a
    * young collection (survivor, old gen). Eden is left out: its peak
    * is the size the collector chose for it, which moves from run to
    * run by a tenth of the total without the program changing.
    */
  private def memoryMb(): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
    val heapCommitted =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / mb
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => p.getName -> p.getPeakUsage.getUsed / mb).toMap
    val kept = pools.filter { case (n, _) => !n.contains("Eden") }
    Map("vm_hwm_mb" -> hwm, "heap_committed_mb" -> heapCommitted,
      "peak_mem_mb" -> (hwm - heapCommitted + kept.values.sum)) ++
      pools.map { case (n, v) => s"pool.$n" -> v }
  }

  /** One workload: input preparation, a cycle of operations, and a
    * final observation after the last cycle.
    */
  private abstract class Workload(val spark: SparkSession, val input: String,
      val work: String, val tracer: Tracer) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    /** Cycles before measuring, the cold one included. */
    def warmupCycles: Int = 1
    def prepare(): Unit = ()
    def cycle(c: Int): Unit
    /** False once the generated input is used up. */
    def hasMore: Boolean = true
    def finish(): Unit = ()

    private var opCycle = Int.MinValue
    private var opInCycle = 0

    /** Time `call` as one operation; `observe` runs after the clock
      * stops and gathers what the output checks need. A throwing call
      * or observation is recorded as a failed operation, never dropped.
      *
      * In a traced run, measured operations are traced in a
      * checkerboard: the i-th operation of cycle c is traced when
      * i + c is odd. Each kind of operation is then traced and
      * untraced in turn, and drift from one cycle to the next falls
      * on both sides of the tracing overhead alike.
      */
    def op(kind: String, label: String, c: Int)(call: => Unit)(
        observe: => Map[String, Any]): Unit = {
      if (c != opCycle) { opCycle = c; opInCycle = 0 }
      val traced = tracer.installed && c >= 0 && (opInCycle + c) % 2 == 1
      opInCycle += 1
      tracer.enabled = traced
      val t0 = System.nanoTime()
      val err = try { tracer.span(kind)(call); null }
      catch { case NonFatal(e) => e.toString }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.enabled = false
      val (obs, err2) =
        if (err != null) (Map.empty[String, Any], err)
        else try (observe, null)
        catch { case NonFatal(e) => (Map.empty[String, Any], e.toString) }
      if (err2 != null) System.err.println(s"[perfbench] $label: $err2")
      ops += Op(kind, label, c, ms, traced, err2 == null, err2, obs)
    }
  }

  // ------------------------------------------------------ bulk_migrate

  /** The DBA's task-mode sequence over one generated source, each mode
    * through `TaskModes.runMode` with its report persisted the way
    * `graft.Main` does, then pipe4_curation and d7_rph_pairs over the
    * source's documents and embeddings.
    */
  private final class BulkMigrate(s: SparkSession, in: String, wk: String,
      t: Tracer) extends Workload(s, in, wk, t) {
    private val knobs = TransferdbConfig.knobs(
      Files.readString(Paths.get(input, "config.toml")))
    private val source = s"$input/source"
    private val directions = Seq("oracle" -> "mysql", "oracle" -> "tidb",
      "mysql" -> "oracle", "tidb" -> "oracle")
    private var seq = 0
    private var lastCsv: Option[Path] = None

    private def mode(c: Int, m: String, dir: (String, String))(
        observe: (String, Array[org.apache.spark.sql.Row]) => Map[String, Any])
        : Unit = {
      val label = s"$m.${TaskModes.direction(dir._1, dir._2)}"
      val out = s"$work/ops/$seq-$label"
      seq += 1
      val kind = m match {
        case "prepare" | "assess" | "reverse" | "check" => s"schema.$m"
        case other => other
      }
      op(kind, label, c) {
        val report = tracer.span("TaskModes.runMode") {
          TaskModes.runMode(spark, m, knobs, source, out, dir._1, dir._2)
        }
        tracer.span("report.write") {
          report.write.mode("overwrite").parquet(s"$out/report_$m.parquet")
        }
      } {
        val rows = spark.read.parquet(s"$out/report_$m.parquet").collect()
        observe(out, rows)
      }
      if (m != "csv") Harness.deleteTree(Paths.get(out))
    }

    def cycle(c: Int): Unit = {
      val o2m = directions.head
      mode(c, "prepare", o2m) { (_, rows) =>
        Map("families" -> rows.map(r => r.getString(0) -> r.getLong(1))
          .toMap) }
      mode(c, "assess", o2m) { (_, rows) => Map("rows" -> rows.length) }
      // one direction per cycle, by cycle number: the cold cycle takes
      // t2o, the first measured cycle o2m, whatever the seed
      val d = directions(math.floorMod(c, directions.length))
      mode(c, "reverse", d) { (_, rows) =>
        Map("tables" -> rows.map(_.getString(0)).sorted.toSeq) }
      mode(c, "check", d) { (_, rows) => Map("rows" -> rows.length) }
      mode(c, "full", o2m) { (out, rows) =>
        val targetRows = derbyCount(s"$out/full/pipedb", "ORDERS_PIPE")
        Map("chunks" -> rows.length,
          "unmatched" -> rows.count(r => !r.getAs[Boolean]("matched")),
          "n_fix" -> rows.map(_.getAs[Long]("n_fix")).sum,
          "src_rows" -> rows.map(_.getAs[Long]("n_rows")).sum,
          "target_rows" -> targetRows)
      }
      mode(c, "csv", o2m) { (out, rows) =>
        lastCsv.foreach(Harness.deleteTree)
        lastCsv = Some(Paths.get(out))
        Map("dir" -> s"$out/csv", "tables" -> rows.map(r =>
          r.getString(0) -> Seq(r.getLong(1), r.getLong(2))).toMap)
      }
      mode(c, "compare", o2m) { (out, rows) =>
        val kept = Paths.get(work, "artifacts", s"fix_$seq.sql")
        Files.createDirectories(kept.getParent)
        Files.copy(Paths.get(out, "fix_orders.sql"), kept)
        Map("fix_file" -> kept.toString, "chunks" -> rows.length,
          "unmatched" -> rows.count(r => !r.getAs[Boolean]("matched")))
      }
      // curation of the source's corpus, linked into a directory of its
      // own each cycle so no query sees input its session has read
      val corpus = Files.createDirectories(Paths.get(work, "corpora", s"c$c"))
      Seq("documents", "embeddings").foreach(tb => Files.createLink(
        corpus.resolve(s"$tb.parquet"), Paths.get(source, s"$tb.parquet")))
      query(c, "curation.pipe4", "TextAnalysis.pipe4Curation") {
        TextAnalysis.pipe4Curation(spark, corpus.toString)
      }
      query(c, "curation.d7", "Similarity.d7RphPairs") {
        Similarity.d7RphPairs(spark, corpus.toString)
      }
      Harness.deleteTree(corpus)
    }

    override def prepare(): Unit = {
      Files.writeString(Paths.get(work, "oracle_pipe4.sql"),
        TextAnalysis.oracles("pipe4_curation"))
      Files.writeString(Paths.get(work, "oracle_d7.sql"),
        Similarity.oracles("d7_rph_pairs"))
    }

    /** A query, collected; its rows reduce to a count and a canonical
      * hash for the oracle check.
      */
    private def query(c: Int, kind: String, call: String)(
        df: => DataFrame): Unit = {
      var rows: Array[org.apache.spark.sql.Row] = null
      op(kind, kind.stripPrefix("curation."), c) {
        rows = tracer.span(call)(df.collect())
      } {
        Map("rows" -> rows.length, "hash" -> Harness.canonicalHash(rows))
      }
    }

    /** Row count of a Derby table, then shut that database down so a
      * run's many migrated targets do not stay booted.
      */
    private def derbyCount(db: String, table: String): Long = {
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
      val n = try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT COUNT(*) FROM $table")
        rs.next(); rs.getLong(1)
      } finally conn.close()
      Harness.shutdownDerby(db)
      n
    }
  }

  // --------------------------------------------------------- cdc_apply

  /** A base load, then the generated change windows in SCN order, each
    * through `Cdc.applyBatchJdbc` with the REPLACE dialect behind
    * `ReplaceShim` (the `all` mode's sink). A window listed in
    * `cdc_redeliver.txt` is applied a second time right after itself,
    * as after a crash before the checkpoint; the target's fingerprint
    * before and after that redelivery goes to the checks.
    */
  private final class CdcApply(s: SparkSession, in: String, wk: String,
      t: Tracer) extends Workload(s, in, wk, t) {
    private val knobs = TransferdbConfig.knobs(
      Files.readString(Paths.get(input, "config.toml")))
    private val db = s"$work/cdcdb"
    private val url = ReplaceShim.Prefix + s"jdbc:derby:$db"
    private val redeliver = Files.readAllLines(
      Paths.get(input, "cdc_redeliver.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet
    private var schema: org.apache.spark.sql.types.StructType = _
    private var windows: IndexedSeq[java.util.List[Row]] = _
    private var next = 0

    // per-window latency falls for the first ~20 s of a JVM's life
    // (JIT); timing starts after these windows
    override def warmupCycles: Int = 120

    override def prepare(): Unit = {
      ReplaceShim.ensureRegistered()
      val conn = java.sql.DriverManager.getConnection(
        s"jdbc:derby:$db;create=true")
      try conn.createStatement().execute("CREATE TABLE CDC_STATE " +
        "(k BIGINT PRIMARY KEY, scn BIGINT, seq BIGINT, v DOUBLE)")
      finally conn.close()
      loadBase()
      // each window reaches the sink as a batch held by the driver (the
      // reference fetches mined LogMiner rows over JDBC), so a window's
      // cost does not depend on how many windows were generated
      val all = spark.read.parquet(s"$input/cdc_windows.parquet")
      schema = all.drop("window").schema
      val byWindow = all.collect().groupBy(_.getAs[Int]("window"))
      windows = (0 until byWindow.size).map(w =>
        byWindow(w).map(r => Row.fromSeq(r.toSeq.tail)).toSeq.asJava)
    }

    /** The base rows, inserted over plain JDBC: input preparation, not
      * a measured apply.
      */
    private def loadBase(): Unit = {
      val rows = spark.read.parquet(s"$input/cdc_base.parquet")
        .select("key", "scn", "seq", "value").collect()
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
      try {
        conn.setAutoCommit(false)
        val ps = conn.prepareStatement(
          "INSERT INTO CDC_STATE (k, scn, seq, v) VALUES (?, ?, ?, ?)")
        rows.foreach { r =>
          ps.setLong(1, r.getLong(0)); ps.setLong(2, r.getLong(1))
          ps.setLong(3, r.getLong(2)); ps.setDouble(4, r.getDouble(3))
          ps.addBatch()
        }
        ps.executeBatch()
        conn.commit()
      } finally conn.close()
    }

    private def apply(c: Int, w: Int, label: String): Unit = {
      val batch = spark.createDataFrame(windows(w), schema)
      op("cdc.window", label, c) {
        tracer.span("Cdc.applyBatchJdbc") {
          Cdc.applyBatchJdbc(batch, url, "CDC_STATE", Cdc.ReplaceDialect,
            rowsPerStmt = knobs.insertBatchSize)
        }
      }(Map("window" -> w))
    }

    override def hasMore: Boolean = next < windows.length

    def cycle(c: Int): Unit = {
      require(hasMore, s"all ${windows.length} generated windows applied")
      val w = next
      next += 1
      apply(c, w, "window")
      if (redeliver.contains(w)) {
        val before = fingerprint()
        apply(c, w, "redelivery")
        val after = fingerprint()
        ops(ops.length - 1) = ops.last.copy(obs = ops.last.obs ++
          Map("fp_before" -> before, "fp_after" -> after))
      }
    }

    /** Digest of the whole target table, in key order. */
    private def fingerprint(): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      dump(line => md.update((line + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    private def dump(sink: String => Unit): Unit = {
      val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db")
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT k, scn, seq, v FROM CDC_STATE ORDER BY k")
        while (rs.next()) {
          val v = rs.getDouble(4)
          sink(s"${rs.getLong(1)}\t${rs.getLong(2)}\t${rs.getLong(3)}\t" +
            (if (rs.wasNull()) "NULL" else v.toString))
        }
      } finally conn.close()
    }

    override def finish(): Unit = {
      val lines = mutable.ArrayBuffer.empty[String]
      dump(lines += _)
      Files.write(Paths.get(work, "cdc_final.tsv"), lines.asJava)
      extra("windows_applied") = next
      extra("final_file") = s"$work/cdc_final.tsv"
    }
  }

  /** sha256 over the rows rendered as text (fields joined by U+001F,
    * each row ended by U+001E, rows sorted), the same rendering
    * `checks.canonical_hash` applies to the DuckDB oracle's rows.
    */
  def canonicalHash(rows: Array[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => "NULL"
      case x @ (_: Long | _: Int | _: String) => x.toString
      case other => throw new IllegalArgumentException(
        s"no canonical rendering for ${other.getClass}")
    }
    val lines = rows.map(r => r.toSeq.map(cell).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\u001e").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def shutdownDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch {
      // Derby reports a clean single-database shutdown as 08006
      case e: java.sql.SQLException if e.getSQLState == "08006" => ()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }
}
