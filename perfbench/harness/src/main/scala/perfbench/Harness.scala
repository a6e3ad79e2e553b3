package perfbench

import graft.{GraftSession, SparkEntry}
import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: session start and two warm passes
  * (set-up; the first also dumps every entry's result for the oracle
  * check), then a closed loop of timed passes over the workload's
  * entries, traced when asked. Each entry is timed as three public calls:
  *   build = `SparkEntry.queries(name)(spark, dir)`,
  *   plan  = forcing `df.queryExecution.executedPlan`,
  *   exec  = the `noop` write.
  * Results go to a JSON file that `perfbench/run.py` turns into metrics.
  *
  * Arguments (all `--key value`): data, entries (comma-separated), seed,
  * seconds, trace (0|1), cores, work (per-run working dir), out (result file),
  * spans (trace file), dump (result dump dir).
  */
object Harness {
  /** Pseudo-entries: public stored-index builds, timed as builds. */
  private val indexBuilds: Map[String, (DataFrame, String) => Unit] = Map(
    "index_pq_build" -> ((e, p) => Similarity.writePqIndex(e, p, 8, 16)))
  /** Warm passes before the timed ones: the first also dumps results for
    * the oracle, which plans differently, so a second one compiles the
    * timed plans' code. */
  private val WarmPasses = 2
  /** Timed passes that always run, window or not. With one, a pass that
    * ended just after the window left a run without a second pass, and
    * that alone moved pass_s by 15%. */
  private val MinTimedPasses = 2
  /** Rows the kernel probes run over: documents, then embeddings, whose
    * kernel costs less per row. */
  private val ProbeRows = (200000L, 800000L)

  /** One entry execution: its three calls, its own wall (timed around
    * all three), the executor CPU of the tasks it ran and the JVM's GC
    * time while it ran. */
  final case class Timing(id: String, name: String, pass: Int, traced: Boolean,
    startMs: Long, buildNs: Long, planNs: Long, execNs: Long, wallNs: Long, cpuNs: Long,
    gcMs: Long, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val entries = opt("entries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val rnd = new scala.util.Random(opt("seed").toLong)
    // warm passes are numbered firstWarm..0, timed passes from 1
    val firstWarm = 1 - WarmPasses
    val unknown = entries.filterNot(n => SparkEntry.queries.contains(n) || indexBuilds.contains(n))
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(",")}")

    val setupT0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val cpu = new CpuCounter
    sc.addSparkListener(cpu)

    val timings = mutable.ArrayBuffer.empty[Timing]
    val entryStats = mutable.ArrayBuffer.empty[String]
    var tracer: Tracer = null
    var seq = 0
    // the oracle dump: each entry's result, written during the warm pass
    // from the frame the pass just built, outside set-up and timed time
    val oracle = SparkEntry.oracleSql
    val dumpDir = opt.get("dump")
    val dumped, dumpFailed = mutable.ArrayBuffer.empty[String]
    var dumpNs = 0L
    def dump(name: String, df: DataFrame): Unit = dumpDir.filter(_ => oracle.contains(name)).foreach { d =>
      val t0 = System.nanoTime()
      try {
        if (df == null) throw new IllegalStateException("entry failed")
        df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        dumped += name
      } catch {
        case e: Throwable =>
          dumpFailed += name
          System.err.println(s"[perfbench] dump $name failed: ${e.getMessage}")
      }
      dumpNs += System.nanoTime() - t0
    }

    def settle(): Unit = PerfbenchBridge.drain(sc)
    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    def persisted(): Int = sc.getPersistentRDDs.size + cachedTables()
    def cachedTables(): Int = spark.catalog.listTables().collect()
      .count(t => scala.util.Try(spark.catalog.isCached(t.name)).getOrElse(false))
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Runs one entry as build → plan → exec, tagging the Spark work each
      * call causes with its span. */
    def runEntry(name: String, pass: Int, trace: Boolean): Timing = {
      // every entry starts on a collected heap, so one entry's garbage
      // is not collected inside the next one's timing
      System.gc()
      seq += 1
      val id = f"e$seq%05d"
      settle()
      val cpu0 = cpu.cpuNs.get(); val gc0 = gcMs()
      val startMs = System.currentTimeMillis()
      val e0 = System.nanoTime()
      var df: DataFrame = null
      var build, plan, exec = 0L
      // the returned frame's planning phases, copied before the noop
      // write runs: the write's QueryExecution may share the frame's
      // tracker and stretch its phases up to the write
      var ownPhases = Map.empty[String, Long]
      var error: String = null
      val windows = mutable.HashMap.empty[String, (Long, Long)]
      def span(part: String)(f: => Any): Long = {
        if (trace) sc.setLocalProperty(Tracer.SpanKey, s"$id/$part")
        val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        try { f; System.nanoTime() - t0 }
        finally {
          windows(part) = (s0, System.currentTimeMillis())
          if (trace) {
            sc.setLocalProperty(Tracer.SpanKey, null)
            tracer.addSpan(SpanRecord(s"$id/$part", part, s"$name $part", id, s0, windows(part)._2))
          }
        }
      }
      try {
        indexBuilds.get(name) match {
          case Some(write) =>
            build = span("build")(write(Tables.embeddings(spark, dir), s"$work/index/$id"))
          case None =>
            build = span("build") { df = SparkEntry.queries(name)(spark, dir) }
            plan = span("plan")(df.queryExecution.executedPlan)
            ownPhases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
            exec = span("exec")(df.write.format("noop").mode("overwrite").save())
        }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
          System.err.println(s"[perfbench] $name failed: $error")
      }
      val wall = System.nanoTime() - e0
      val gc = gcMs() - gc0
      // counted at once, while the entry's own frame is still referenced
      val persistedAfter = if (trace) persisted() else 0
      settle()
      val t = Timing(id, name, pass, trace, startMs, build, plan, exec, wall, cpu.cpuNs.get() - cpu0,
        gc, error)
      timings += t
      if (pass == firstWarm) dump(name, if (error == null) df else null)
      if (trace) {
        entryStats += entryJson(t, ownPhases, windows.toMap, persistedAfter)
        tracer.addSpan(SpanRecord(id, "entry", name, null, startMs, startMs + wall / 1000000L))
        tracer.clearWork()
      }
      release()
      t
    }

    def entryJson(t: Timing, own: Map[String, Long], windows: Map[String, (Long, Long)],
        persistedAfter: Int): String = {
      val parts = Seq("build", "plan", "exec").map(p => tracer.work.getOrElse(s"${t.id}/$p", new Work))
      val (bw, ew) = (parts(0), parts(2))
      val none = (t.startMs, t.startMs)
      val (buildWin, execWin) = (windows.getOrElse("build", none), windows.getOrElse("exec", none))
      val endMs = windows.values.map(_._2).foldLeft(t.startMs)(math.max)
      val qes = tracer.qesIn(t.startMs, endMs + 1)
      val execQes = qes.filter(_.startMs >= execWin._1)
      // the returned frame's own planning is not an action, so its
      // tracker is read directly rather than from the listener
      def ownMs(p: String) = own.getOrElse(p, 0L)
      val writes = qes.filter(_.isWrite)
      // span wall with no job of the span running: driver-only time
      def idleS(w: Work, ns: Long, win: (Long, Long)): Double =
        math.max(0.0, ns / 1e9 - covered(w.jobWindows.toSeq, win._1, win._2) / 1e3)
      val fields = Seq(
        "id" -> q(t.id), "name" -> q(t.name), "pass" -> t.pass.toString,
        "ok" -> (t.error == null).toString,
        "build_s" -> d(t.buildNs / 1e9), "plan_s" -> d(t.planNs / 1e9),
        "exec_s" -> d(t.execNs / 1e9), "wall_s" -> d(t.wallNs / 1e9),
        "gc_s" -> d(t.gcMs / 1e3),
        "build_jobs" -> bw.jobs.toString,
        "build_driver_s" -> d(idleS(bw, t.buildNs, buildWin)),
        "exec_driver_s" -> d(idleS(ew, t.execNs, execWin)),
        "persisted_after" -> persistedAfter.toString,
        "analysis_s" -> d((qes.map(_.analysisMs).sum + ownMs("analysis")) / 1e3),
        "optimizer_s" -> d((qes.map(_.optimizerMs).sum + ownMs("optimization")) / 1e3),
        "physical_s" -> d((qes.map(_.planningMs).sum + ownMs("planning")) / 1e3),
        "exchanges" -> execQes.map(_.exchanges).sum.toString,
        "jobs" -> parts.map(_.jobs).sum.toString,
        "stages" -> parts.map(_.stages).sum.toString,
        "tasks" -> parts.map(_.tasks).sum.toString,
        "task_wait_s" -> d(parts.map(_.taskWaitMs).sum / 1e3),
        "task_run_s" -> d(parts.map(_.taskRunMs).sum / 1e3),
        "cpu_s" -> d(parts.map(_.cpuNs).sum / 1e9),
        "shuffle_read_bytes" -> parts.map(_.shuffleRead).sum.toString,
        "shuffle_write_bytes" -> parts.map(_.shuffleWrite).sum.toString,
        "spill_bytes" -> parts.map(_.spill).sum.toString,
        "input_bytes" -> parts.map(_.inputBytes).sum.toString,
        "scan_tasks" -> parts.map(_.scanTasks).sum.toString,
        "output_bytes" -> parts.map(_.outputBytes).sum.toString,
        "output_records" -> parts.map(_.outputRecords).sum.toString,
        "files_written" -> writes.map(_.filesWritten).sum.toString,
        "write_s" -> d(writes.map(_.durationNs).sum / 1e9))
      obj(fields: _*)
    }

    val passes = mutable.ArrayBuffer.empty[String]
    def runPass(pass: Int, trace: Boolean): Unit = {
      val order = rnd.shuffle(entries)
      settle()
      val cpu0 = cpu.cpuNs.get(); val t0 = System.nanoTime()
      order.foreach(n => runEntry(n, pass, trace))
      val wall = (System.nanoTime() - t0) / 1e9
      settle()
      passes += obj("pass" -> pass.toString, "traced" -> trace.toString, "wall_s" -> d(wall),
        "cpu_s" -> d((cpu.cpuNs.get() - cpu0) / 1e9))
    }

    // set-up: session start plus the warm passes (JIT, codegen, footers)
    (firstWarm to 0).foreach(runPass(_, trace = false))
    val setupS = (System.nanoTime() - setupT0 - dumpNs) / 1e9

    // closed loop: whole passes, one entry at a time, until the window ends
    val loopT0 = System.nanoTime()
    var pass = 0
    if (traced) {
      tracer = new Tracer
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    while (pass < MinTimedPasses || (System.nanoTime() - loopT0) / 1e9 < seconds) { pass += 1; runPass(pass, traced) }
    if (traced) {
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }

    // functions: a noop select of each public codegen kernel over the
    // workload's input, traced runs only. The input's rows are repeated
    // up to ProbeRows and cached first, so task run time, not job
    // scheduling and file opening, sets a probe's time.
    val kernels, kernelUtil = mutable.ArrayBuffer.empty[String]
    if (traced) {
      import graft.functions._
      def repeated(df: DataFrame, rows: Long): DataFrame = {
        val n = df.count()
        val r = df.crossJoin(spark.range(math.max(1L, (rows + n - 1) / n))).drop("id")
          .repartition(cores * 2).cache()
        r.count()
        r
      }
      val docs = repeated(Tables.documents(spark, dir).select("text"), ProbeRows._1)
      val emb = repeated(Tables.embeddings(spark, dir).select("embedding"), ProbeRows._2)
      val probes = Seq(
        "shingleHashes" -> docs.select(shingleHashes(col("text"))),
        "simhash64" -> docs.select(simhash64(col("text"))),
        "JaccardHashes" -> docs.select(jaccardHashes(shingleHashes(col("text"), 3),
          shingleHashes(col("text"), 2))),
        "vectorCosine" -> emb.select(vectorCosine(col("embedding"), col("embedding"))))
      probes.foreach { case (k, df) =>
        val runs = (1 to 5).map { _ =>
          settle()
          val cpu0 = cpu.cpuNs.get(); val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          settle()
          (wall, (cpu.cpuNs.get() - cpu0) / 1e9 / (wall * cores))
        }.sortBy(_._1)
        kernels += s"${q(k)}:${d(runs(2)._1)}"
        kernelUtil += s"${q(k)}:${d(runs(2)._2)}"
      }
      release()
    }

    dumpDir.foreach { d =>
      Files.writeString(Paths.get(s"$d/oracle_sql.json"),
        dumped.map(n => s"${q(n)}:${q(oracle(n))}").mkString("{", ",", "}"))
    }

    if (traced) {
      val sp = tracer.spans.map { s =>
        obj("id" -> q(s.id), "kind" -> q(s.kind), "name" -> q(s.name),
          "parent" -> (if (s.parent == null) "null" else q(s.parent)),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString)
      }
      Files.write(Paths.get(opt("spans")), sp.asJava)
    }

    val rssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val timingJson = timings.map { t =>
      obj("id" -> q(t.id), "name" -> q(t.name), "pass" -> t.pass.toString,
        "traced" -> t.traced.toString, "build_s" -> d(t.buildNs / 1e9),
        "plan_s" -> d(t.planNs / 1e9), "exec_s" -> d(t.execNs / 1e9),
        "wall_s" -> d(t.wallNs / 1e9), "cpu_s" -> d(t.cpuNs / 1e9),
        "error" -> (if (t.error == null) "null" else q(t.error)))
    }
    val out = obj(
      "setup_s" -> d(setupS), "rss_peak_mb" -> d(rssKb / 1024.0), "cores" -> cores.toString,
      "passes" -> passes.mkString("[", ",", "]"),
      "timings" -> timingJson.mkString("[", ",", "]"),
      "entry_stats" -> entryStats.mkString("[", ",", "]"),
      "kernels" -> kernels.mkString("{", ",", "}"),
      "kernel_util" -> kernelUtil.mkString("{", ",", "}"),
      "dumped" -> dumped.map(q).mkString("[", ",", "]"),
      "dump_failed" -> dumpFailed.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }

  /** ms of [s0, e0] covered by the union of the given windows. */
  def covered(windows: Seq[(Long, Long)], s0: Long, e0: Long): Double = {
    var total = 0L; var reach = s0
    windows.map { case (a, b) => (math.max(a, s0), math.min(b, e0)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { total += b - from; reach = b }
      }
    total.toDouble
  }

  /** A JSON object from keys and already-encoded values. */
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def d(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
