package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkEntry, Tables}
import graft.streaming.EventsStream

/** One feed row of the `stream` workload: the events table's columns. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** A fault of the harness itself (bad input, silent listener): the run
  * ends with a non-zero exit and no metrics. */
final class Fault(msg: String) extends RuntimeException(msg)

/** Runs one benchmark run described by a plan file that `run.py` writes:
  * set-up, the plan's closed-loop timed passes (a fixed amount of work,
  * whatever the measuring time), then the untimed output check. A plan
  * with `setup_only` stops after the set-up, which it times again in a
  * fresh JVM. In a traced run the odd passes are traced and the even ones
  * are not, so one run gives both the per-layer figures and the tracing
  * overhead. Writes raw records (`ops.jsonl`, `spans.jsonl`, `run.json`) to
  * the plan's `out_dir`; `run.py` turns them into metrics.
  *
  * Usage: Harness <plan.json>
  */
object Harness {
  /** The streaming twins under test, by name, each with the batch query
    * whose row count its emitted rows must equal. */
  val twins: Map[String, (DataFrame => DataFrame, DataFrame => DataFrame)] = Map(
    "session_native" -> ((df => EventsStream.sessionNativeStream(df),
      df => EventsStream.sessionNativeStream(df))),
    "dedup" -> ((df => EventsStream.dedupStream(df, "2 hours"),
      df => df.dropDuplicates("event_id"))))

  def main(args: Array[String]): Unit = {
    val code =
      try { new Harness(Json.read(args(0))).run(); 0 }
      catch { case f: Fault =>
        System.err.println(s"[perfbench] harness fault: ${f.getMessage}"); 3 }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }
}

final class Harness(plan: JsonNode) {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val workload = plan.get("workload").asText
  private val seed = plan.get("seed").asLong
  private val traced = plan.get("trace").asInt == 1
  private val sfDir = plan.get("sf_dir").asText
  private val cores = plan.get("cores").asInt
  private val out = Paths.get(plan.get("out_dir").asText).toAbsolutePath
  private val passes: Seq[Seq[String]] =
    plan.get("passes").elements().asScala.map(Json.strings).toSeq
  private val isStream = plan.get("kind").asText == "stream"
  private val chunks = Json.ints(plan.get("chunks"))

  private var spark: SparkSession = _
  private var probe: Probe = _
  private var streamProbe: StreamProbe = _
  private var flushes = 0L
  private val opLines = mutable.ArrayBuffer.empty[(String, Seq[(String, Any)])]
  private val runInfo = mutable.LinkedHashMap.empty[String, Any]

  def run(): Unit = {
    validate()
    Files.createDirectories(out)
    runInfo("setup_s") = setUp()
    runInfo("setup_cpu_s") = processCpuNanos() / 1e9
    if (plan.path("setup_only").asBoolean) {
      Files.writeString(out.resolve("run.json"), Json.write(runInfo))
      spark.stop()
      return
    }
    runInfo("config") = config()
    val gc0 = gcMillis()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passJit = mutable.ArrayBuffer.empty[Double]
    for (pass <- passes.indices) {
      if (traced) { flush(); probe.traced = pass % 2 == 1 }
      val p0 = System.nanoTime()
      val c0 = processCpuNanos()
      val j0 = jitMillis()
      if (isStream) streamPass(pass) else batchPass(pass)
      passWall += (System.nanoTime() - p0) / 1e9
      passCpu += (processCpuNanos() - c0) / 1e9
      passJit += (jitMillis() - j0) / 1e3
    }
    runInfo("pass_s") = passWall.toSeq
    runInfo("pass_cpu_s") = passCpu.toSeq
    runInfo("pass_jit_s") = passJit.toSeq
    runInfo("jvm") = Map(
      "gc_s" -> (gcMillis() - gc0) / 1e3,
      "heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    flush()
    probe.traced = false
    if (!probe.capturedJobs) throw new Fault("the Spark listener captured no job")
    if (traced) runInfo("tables") = loadTables()
    check()
    write()
    spark.stop()
  }

  /** Fail before any work on inputs the run cannot use. */
  private def validate(): Unit = {
    Tables.all.foreach { t =>
      if (!Files.exists(Paths.get(s"$sfDir/$t.parquet")))
        throw new Fault(s"missing test table $sfDir/$t.parquet")
    }
    val known = if (isStream) Harness.twins.keySet else SparkEntry.queries.keySet
    val unknown = passes.flatten.distinct.filterNot(known)
    if (passes.isEmpty || passes.exists(_.isEmpty)) throw new Fault("empty pass list")
    if (unknown.nonEmpty) throw new Fault(s"unknown operation(s): ${unknown.mkString(",")}")
  }

  /** The set-up, timed from JVM start (seconds): session, listeners and
    * (stream) the feed. There is no warm-up query: the first pass is the
    * cold one. */
  private def setUp(): Double = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    streamProbe = new StreamProbe
    spark.streams.addListener(streamProbe)
    if (isStream) loadFeed()
    (nowMs - jvmStartMs) / 1e3
  }

  private def config(): Map[String, Any] = Map(
    "cores" -> cores,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "spark_version" -> spark.version,
    "sf_dir" -> sfDir,
    "seed" -> seed,
    "traced" -> traced)

  /** CPU time of the whole JVM: every Spark task thread, the driver, JIT
    * and GC. */
  private def processCpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compilers have spent compiling, summed over them. */
  private def jitMillis(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Drop what the previous operation pinned, as graft.Bench does. */
  private def settle(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  /** Waits until the listener bus has delivered every earlier event. */
  private def flush(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, Probe.FlushOp)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Probe.OpKey, null)
    flushes += 1
    val deadline = System.nanoTime() + 30e9.toLong
    while (!probe.flushed(flushes)) {
      if (System.nanoTime() > deadline) throw new Fault("listener bus did not drain")
      Thread.sleep(2)
    }
  }

  private def span(key: String, parent: String, name: String, op: String,
      t0: Double, t1: Double): Unit =
    if (probe.traced) probe.addSpan(Span(key, parent, name, op, t0, t1))

  private def batchPass(pass: Int): Unit =
    passes(pass).zipWithIndex.foreach { case (q, i) => batchOp(pass, i, q) }

  /** One timed query: build (the query function), plan (forcing the
    * executed plan) and exec (the noop-sink write). A query that throws
    * is recorded as failed with no times. Its span starts before the
    * untimed settle, so the span's self time is the harness's own. */
  private def batchOp(pass: Int, idx: Int, query: String): Unit = {
    val s0 = nowMs
    settle()
    val op = s"p$pass.$idx"
    val sc = spark.sparkContext
    val marks = mutable.ArrayBuffer(nowMs)
    val cpu0 = processCpuNanos()
    var df: DataFrame = null
    var error: String = null
    sc.setLocalProperty(Probe.OpKey, op)
    try {
      for ((phase, step) <- Seq[(String, () => Unit)](
          "build" -> (() => df = SparkEntry.queries(query)(spark, sfDir)),
          "plan" -> (() => df.queryExecution.executedPlan),
          "exec" -> (() => df.write.format("noop").mode("overwrite").save()))) {
        sc.setLocalProperty(Probe.PhaseKey, phase)
        step()
        marks += nowMs
      }
    } catch { case e: Throwable => error = e.toString.take(1000) }
    finally {
      sc.setLocalProperty(Probe.OpKey, null)
      sc.setLocalProperty(Probe.PhaseKey, null)
    }
    val base = mutable.ArrayBuffer[(String, Any)](
      "workload" -> workload, "seed" -> seed, "pass" -> pass, "idx" -> idx,
      "query" -> query, "op" -> op, "start_ms" -> marks.head,
      "status" -> (if (error == null) "ok" else "failed"), "error" -> error,
      "traced" -> probe.traced)
    if (error == null) {
      val Seq(t0, t1, t2, t3) = marks.toSeq
      base ++= Seq("build_s" -> (t1 - t0) / 1e3, "plan_s" -> (t2 - t1) / 1e3,
        "exec_s" -> (t3 - t2) / 1e3, "cpu_s" -> (processCpuNanos() - cpu0) / 1e9)
      span(op, "", "query", op, s0, t3)
      span(s"$op/build", op, "build", op, t0, t1)
      span(s"$op/plan", op, "plan", op, t1, t2)
      span(s"$op/exec", op, "exec", op, t2, t3)
      if (probe.traced) {
        val phases = df.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          base += s"plan.${p}_s" -> phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        }
      }
    }
    if (probe.traced) { flush(); base += "stats" -> probe.take(op) }
    opLines += op -> base.toSeq
  }

  // ---- stream workload ---------------------------------------------------

  private var feed: Array[Ev] = _

  /** The events table in event-time order, held by the driver. */
  private def loadFeed(): Unit = {
    val s = spark
    import s.implicits._
    val need = chunks.sum
    feed = Tables.events(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id").limit(need).as[Ev].collect()
    if (feed.length < need) throw new Fault(s"feed has ${feed.length} rows, plan needs $need")
  }

  private val streamRuns = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def streamPass(pass: Int): Unit =
    passes(pass).foreach(twin => streamTwin(pass, twin))

  /** Feeds the chunks through one twin, one micro-batch per chunk, each
    * timed from `addData` until `processAllAvailable` returns. */
  private def streamTwin(pass: Int, twin: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val op = s"p$pass.$twin"
    val sink = s"pb_${twin}_$pass"
    val ckpt = out.resolve("ckpt").resolve(sink)
    val sc = spark.sparkContext
    // build: the twin function and starting the query; its micro-batch
    // jobs run on the query's own thread, which inherits these properties
    val b0 = nowMs
    sc.setLocalProperty(Probe.OpKey, op)
    sc.setLocalProperty(Probe.PhaseKey, "exec")
    val input = MemoryStream[Ev]
    val q = Harness.twins(twin)._1(input.toDF()).writeStream
      .format("memory").queryName(sink).outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    sc.setLocalProperty(Probe.OpKey, null)
    sc.setLocalProperty(Probe.PhaseKey, null)
    val b1 = nowMs
    span(s"$op/build", op, "build", op, b0, b1)
    var off = 0
    var failed = false
    val f0 = nowMs
    chunks.zipWithIndex.foreach { case (n, b) =>
      val rows = feed.slice(off, off + n).toIndexedSeq
      off += n
      val t0 = nowMs
      val cpu0 = processCpuNanos()
      var error: String = null
      if (!failed) {
        try { input.addData(rows); q.processAllAvailable() }
        catch { case e: Throwable => error = e.toString.take(1000); failed = true }
      } else error = "stream stopped by an earlier failure"
      val t1 = nowMs
      val line = mutable.ArrayBuffer[(String, Any)](
        "workload" -> workload, "seed" -> seed, "pass" -> pass, "idx" -> b,
        "twin" -> twin, "op" -> s"$op.$b", "rows" -> n, "start_ms" -> t0,
        "status" -> (if (error == null) "ok" else "failed"), "error" -> error,
        "traced" -> probe.traced)
      if (error == null) {
        line ++= Seq("latency_ms" -> (t1 - t0), "cpu_s" -> (processCpuNanos() - cpu0) / 1e9)
        // a micro-batch is the streaming query's unit of execution
        span(s"$op.$b", op, "exec", op, t0, t1)
      }
      opLines += s"$op.$b" -> line.toSeq
    }
    val f1 = nowMs
    span(op, "", "query", op, b0, f1)
    val lastTimed = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    // untimed: a far-future sentinel row moves the watermark past every
    // session so the append-mode sink emits all of them
    var emitted = -1L
    if (!failed) {
      val maxTs = feed(off - 1).ts.getTime
      input.addData(Ev(-1L, new Timestamp(maxTs + 86400000L), -1L, "view", 0.0))
      q.processAllAvailable()
      emitted = spark.table(sink).where("user_id <> -1").count()
    }
    q.stop()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!streamProbe.terminated(q.id.toString)) {
      if (System.nanoTime() > deadline) throw new Fault("streaming listener saw no termination")
      Thread.sleep(5)
    }
    val progress = streamProbe.of(q.id.toString).filter(_.batchId <= lastTimed)
    if (progress.isEmpty && !failed) throw new Fault(s"no progress events for $sink")
    spark.catalog.dropTempView(sink)
    deleteTree(ckpt)
    val stats = if (probe.traced) { flush(); Some(probe.take(op)) } else None
    streamRuns += Map(
      "pass" -> pass, "twin" -> twin, "op" -> op, "feed_rows" -> off,
      "build_s" -> (b1 - b0) / 1e3,
      "traced" -> probe.traced, "stats" -> stats,
      "feed_s" -> (f1 - f0) / 1e3, "failed" -> failed, "emitted" -> emitted,
      "progress" -> progress.map { p =>
        val d = p.durationMs.asScala
        Map("batch" -> p.batchId,
          "add_batch_ms" -> d.get("addBatch").map(_.toLong).getOrElse(0L),
          "plan_ms" -> d.get("queryPlanning").map(_.toLong).getOrElse(0L),
          "commit_ms" -> d.get("commitOffsets").map(_.toLong).getOrElse(0L),
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
      })
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))

  // ---- traced extras and the output check --------------------------------

  /** `tables.load_s`: each table the workload reads, loaded directly. */
  private def loadTables(): Map[String, Double] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, "__tables__")
    val names = if (isStream) Seq("events") else probe.scannedTables
    if (names.isEmpty) throw new Fault("no table scan seen in the traced plans")
    val times = names.map { t =>
      val t0 = System.nanoTime()
      if (t == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, t)
      t -> (System.nanoTime() - t0) / 1e9
    }
    sc.setLocalProperty(Probe.OpKey, null)
    times.toMap
  }

  /** Untimed: batch queries dump their result for tools/check.py; stream
    * twins are counted against the same twin run on the static feed. */
  private def check(): Unit = {
    val checkDir = out.resolve("check")
    deleteTree(checkDir)
    Files.createDirectories(checkDir)
    val errors = mutable.LinkedHashMap.empty[String, String]
    if (isStream) {
      val s = spark
      import s.implicits._
      val static = spark.createDataset(feed.toSeq).toDF()
      runInfo("batch_twin_rows") = passes.flatten.distinct.map { t =>
        t -> Harness.twins(t)._2(static).count()
      }.toMap
      runInfo("stream_runs") = streamRuns.toSeq
    } else {
      val checked = Json.strings(plan.get("check"))
      checked.foreach { q =>
        try SparkEntry.queries(q)(spark, sfDir).coalesce(1).write
          .mode("overwrite").parquet(checkDir.resolve(q).toString)
        catch { case e: Throwable => errors(q) = e.toString.take(1000) }
      }
      // tools/check.py runs this SQL in DuckDB for each dumped result
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => checked.contains(k) }
      Files.writeString(checkDir.resolve("oracle_sql.json"), Json.write(oracles))
    }
    runInfo("check_errors") = errors
  }

  private def write(): Unit = {
    // traced operations took their stats already; the rest take them now
    val lines = opLines.map { case (op, fields) =>
      val extra = if (fields.exists(_._1 == "stats")) Nil else Seq("stats" -> probe.take(op))
      Json.write(ListMap(fields ++ extra: _*))
    }
    Files.write(out.resolve("ops.jsonl"), lines.asJava)
    Files.write(out.resolve("spans.jsonl"),
      probe.allSpans.map(_.json(s"$workload-$seed")).asJava)
    Files.writeString(out.resolve("run.json"), Json.write(runInfo))
  }
}
