package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files => NFiles, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.operators.Dedup

/** The benchmark's driver process: one SparkSession on `local[cpus]` and one
  * closed-loop client, so each op starts only after the previous one ends.
  *
  * Protocol: three session set-ups (start a session, stage the workload,
  * stop it again except the last), the workload's warm-up passes (the first
  * one's outputs are checked against expected fingerprints), then timed
  * passes until `seconds` have elapsed. With `--trace 1` Spark's listeners
  * are attached from outside on every other timed pass, so traced and
  * untraced passes of the same run give the tracing overhead. Everything the run measured is
  * written as one JSON record (`--out`): spans, checks, set-up times and the
  * heap retained after the warm-up and at the end. `run.py` reduces it to
  * metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --tables DIR --inputs DIR --work DIR --expected FILE --out FILE
  *   perfbench.Main --dump-oracle FILE  (oracle SQL of the registry ops)
  */
object Main {
  private val Setups = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("dump-oracle") match {
      case Some(out) => dumpOracle(out)
      case None => run(args)
    }
  }

  private def dumpOracle(out: String): Unit = {
    val names = Workloads.registryNames("query_floor") ++ Workloads.registryNames("curation")
    val sql = graft.SparkEntry.oracleSql
    val missing = names.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(", ")}")
    NFiles.writeString(Paths.get(out), Json.render(names.map(n => n -> sql(n)).toMap))
  }

  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def expectedFingerprints(path: String): Map[String, Fingerprint.Fp] = {
    // expected.json: {"<query>": {"rows": n, "sum": "<hex>", "cols": "<hex>"}}
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Fingerprint.Fp(v.get("rows").asLong, v.get("sum").asText, v.get("cols").asText)
    }.toMap
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Host CPU ticks (busy, steal) from /proc/stat, this JVM's JIT compile
    * milliseconds and Spark's codegen compilations: the context that says
    * how much of a pass went to the host and to compilation. */
  private def hostCounters(): Map[String, Double] = {
    val ticks =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        try f.getLines().next().split("\\s+").drop(1).map(_.toDouble) finally f.close()
      } catch { case _: Exception => Array.fill(8)(0.0) }
    Map("busy_ticks" -> (ticks(0) + ticks(1) + ticks(2) + ticks(5) + ticks(6)),
      "steal_ticks" -> ticks(7),
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble)
  }

  /** Heap in use after scratch release and a full GC. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    Dedup.releaseAllCaches(spark)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def run(args: Map[String, String]): Unit = {
    val runStart = Clock.nowMs
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val (tables, inputs, work) = (arg("tables"), arg("inputs"), arg("work"))
    val export = s"$work/export"
    val workload = Workloads.byName(arg("workload"), expectedFingerprints(arg("expected")))
    val log = new SpanLog
    val runId = log.nextId()

    // set-up: session start + staging, repeated; the last session stays up
    var spark: SparkSession = null
    val setupSeconds = (1 to Setups).map { i =>
      val t0 = Clock.nowMs
      spark = session(cpus, work)
      workload.stage(spark, inputs, export)
      val dt = (Clock.nowMs - t0) / 1e3
      if (i < Setups) spark.stop()
      dt
    }

    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    val listeners = new Listeners(log)

    def runPass(pass: Int, withListeners: Boolean): Span = {
      val order =
        if (workload.ordered) workload.ops
        else new scala.util.Random(seed * 1000003L + pass).shuffle(workload.ops)
      if (withListeners) {
        spark.sparkContext.addSparkListener(listeners.spark)
        spark.listenerManager.register(listeners.queries)
        spark.streams.addListener(listeners.streams)
      }
      val passId = log.nextId()
      val cpu0 = cpuSeconds()
      val host0 = hostCounters()
      val t0 = Clock.nowMs
      val results = mutable.LinkedHashMap.empty[String, Outcome]
      order.foreach { op =>
        val opId = log.nextId()
        val ctx = new OpCtx(spark, log, opId, tables, inputs, export)
        spark.sparkContext.setJobGroup(Trace.GroupPrefix + opId, op.name)
        val (outcome, span) = log.timed(passId, opId, "op", op.name) {
          try op.run(ctx) catch {
            case e: Throwable => Outcome(ok = false, detail = s"threw $e")
          }
        }
        spark.sparkContext.clearJobGroup()
        log.add(span.copy(id = log.nextId(), kind = "op_meta", attrs = Map(
          "pass" -> pass, "ok" -> outcome.ok,
          "rows" -> outcome.result.map(_._2.length.toLong).getOrElse(-1L))))
        attempted += 1
        if (!outcome.ok)
          failures += Map("pass" -> pass, "op" -> op.name, "detail" -> outcome.detail)
        results(op.name) = outcome
        if (workload.releaseAfterOp)
          log.timed(passId, opId, "release", "releaseAllCaches")(Dedup.releaseAllCaches(spark))
      }
      val passSpan = Span(passId, runId, -1, "pass", s"pass-$pass", t0, Clock.nowMs,
        Map("pass" -> pass, "warmup" -> (pass < workload.warmupPasses),
          "traced" -> withListeners, "cpu_s" -> (cpuSeconds() - cpu0)) ++
          hostCounters().map { case (k, v) => k -> (v - host0(k)) })
      log.add(passSpan)
      if (withListeners) {
        listeners.drain()
        listeners.flushJobs()
        spark.streams.removeListener(listeners.streams)
        spark.listenerManager.unregister(listeners.queries)
        spark.sparkContext.removeSparkListener(listeners.spark)
        workload.sinkDirs(spark.conf.get("spark.sql.warehouse.dir"), export).foreach { d =>
          val (files, bytes) = Files.dataFiles(d)
          log.add(Span(log.nextId(), passId, -1, "sink_output", d, passSpan.end,
            passSpan.end, Map("files" -> files, "bytes" -> bytes)))
        }
      }
      // checks run after the pass, outside its timing
      val failedOps = results.collect { case (n, o) if !o.ok => n }.toSet
      val passChecks =
        try workload.check(spark, pass, results.toMap, inputs, export)
        catch { case e: Throwable => Seq(("*", false, s"check threw $e")) }
      passChecks.foreach { case (op, ok, detail) =>
        checks += Map("pass" -> pass, "op" -> op, "ok" -> ok, "detail" -> detail)
        if (!ok && !failedOps(op)) {
          failures += Map("pass" -> pass, "op" -> op, "detail" -> detail)
        }
      }
      passSpan
    }

    // warm-up: the checked pass 0, then untimed passes that let JIT and
    // codegen settle before the timed passes start
    val warm = (0 until workload.warmupPasses).map(runPass(_, withListeners = false))
    // heap retained after the same amount of work in every run
    val heapAfterWarmupMb = retainedHeapMb(spark)
    val measureStart = Clock.nowMs
    // at least two timed passes, so a median never rests on one sample; a
    // traced run alternates untraced and traced passes, starting untraced,
    // so each traced pass has untraced neighbours to compare with
    val minPasses = if (traced) 3 else 2
    var timed = 0
    while (timed < minPasses || Clock.nowMs - measureStart < seconds * 1000) {
      runPass(workload.warmupPasses + timed, withListeners = traced && timed % 2 == 1)
      timed += 1
    }

    val heapEndMb = retainedHeapMb(spark)
    log.add(Span(runId, -1, -1, "run", workload.name, runStart, Clock.nowMs, Map.empty))
    val record = Map(
      "workload" -> workload.name, "seed" -> seed, "cpus" -> cpus,
      "spark_version" -> spark.version,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "setup_session_s" -> setupSeconds,
      "warmup_s" -> warm.map(p => (p.end - p.start) / 1e3).sum,
      "retained_heap_mb" -> heapAfterWarmupMb, "retained_heap_end_mb" -> heapEndMb,
      "attempted" -> attempted, "failures" -> failures.toSeq, "checks" -> checks.toSeq,
      "spans" -> log.all.sortBy(_.id).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)))
    spark.stop()
    NFiles.writeString(Paths.get(arg("out")), Json.render(record))
  }
}
