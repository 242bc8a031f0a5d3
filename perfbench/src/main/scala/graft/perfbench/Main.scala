package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark run in one JVM: set-up, a warm-up pass whose outputs
  * are checked against their pins, an untimed pass run as measured, then
  * measured passes until the time is up. A single client issues one
  * entry at a time.
  *
  * Modes (first argument):
  *   run    --workload W --seed N --seconds S --trace 0|1 --data DIR
  *          --work DIR --pins FILE --result FILE [--trace-out FILE]
  *   pin    --data DIR --work DIR   prints a pin line for every entry
  *   check  --dump DIR --pins FILE  compares a Verify dump to the pins
  */
object Main {
  final case class Exec(id: Int, pass: Int, name: String, start: Long,
      built: Long, end: Long, ns: Long, error: Option[String])
  final case class Pass(n: Int, full: Boolean, start: Long, end: Long,
      ns: Long, workCpuS: Double, written: Long, shuffled: Long)

  /** Untimed passes run exactly as measured ones before measuring: the
    * first noop write of each plan compiles its generated code.
    */
  val WarmupPasses = 1
  /** Every run measures at least this many passes. A traced run measures
    * one more, since it records every other pass and leaves the first out
    * of its overhead.
    */
  val MinPasses = 2
  val MaxPasses = 40
  /** Seconds after JVM start past which no pass starts only to reach
    * [[MinPasses]]: on a box whose CPUs are mostly stolen a stream pass
    * takes 15 s, and the runner stops a run at 170 s.
    */
  val LateStartS = 110

  def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    args.headOption match {
      case Some("run") => new Run(opts).apply()
      case Some("pin") => pin(opts)
      case Some("check") => checkDump(opts)
      case _ =>
        System.err.println("usage: Main run|pin|check --option value ...")
        sys.exit(2)
    }
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.queryExecutionListeners",
        classOf[PlanningListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(Recorder.Listener)
    spark
  }

  def describe(entry: String, e: Throwable): String =
    s"$entry: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  def loadPins(p: Path): Map[String, Fingerprint.Pin] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, cols, hash) = l.split("\t")
        name -> Fingerprint.Pin(rows.toLong, cols.toInt, hash)
      }.toMap

  /** None when `df` matches its pin; the failure otherwise. A result
    * with no rows or no columns fails whatever its pin says.
    */
  def check(name: String, df: DataFrame,
      pins: Map[String, Fingerprint.Pin]): Option[String] = {
    val got = Fingerprint.of(df)
    if (got.cols == 0 || got.rows == 0) Some(s"$name: empty result ($got)")
    else pins.get(name) match {
      case None => Some(s"$name: no pin (got $got)")
      case Some(want) if want != got => Some(s"$name: expected $want, got $got")
      case _ => None
    }
  }

  private def pin(opts: Map[String, String]): Unit = {
    val spark = session(Paths.get(opts("work")))
    val names = (Workloads.all.flatMap(_.entries) ++ Workloads.knownBroken).distinct
    names.foreach { n =>
      val df = Workloads.entry(n)(spark, opts("data"))
      df.write.format("noop").mode("overwrite").save()
      println(s"$n\t${Fingerprint.of(df)}")
    }
    spark.stop()
  }

  private def checkDump(opts: Map[String, String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val pins = loadPins(Paths.get(opts("pins")))
    var bad = 0
    pins.keys.toSeq.sorted.foreach { n =>
      val dir = Paths.get(opts("dump"), n)
      if (!Files.isDirectory(dir)) println(s"[absent] $n")
      else {
        val r = check(n, spark.read.parquet(dir.toString), pins)
        println(r.map(e => s"[FAIL] $e").getOrElse(s"[same] $n"))
        if (r.nonEmpty) bad += 1
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }

  /** The state of one `run`. */
  final class Run(opts: Map[String, String]) {
    val workload = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val data = opts("data")
    val work = Paths.get(opts("work"))
    val pins = loadPins(Paths.get(opts("pins")))
    val entries = workload.entries.map(n => n -> Workloads.entry(n)).toMap

    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[Pass]
    val failures = ArrayBuffer.empty[String]
    val notes = ArrayBuffer.empty[String]
    val setupSpans = ArrayBuffer.empty[(String, String, Long, Long)]
    private var nextExec = 0

    def runEntry(spark: SparkSession, pass: Int, name: String,
        fn: Workloads.Entry): (Exec, Option[DataFrame]) = {
      spark.catalog.clearCache()
      nextExec += 1
      val sc = spark.sparkContext
      sc.setLocalProperty(Recorder.ExecKey, nextExec.toString)
      val start = now()
      val n0 = System.nanoTime()
      var built = -1L
      var df: Option[DataFrame] = None
      val error = try {
        df = Some(fn(spark, data))
        built = now()
        df.get.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(describe(name, e)) }
      val ns = System.nanoTime() - n0
      val end = now()
      sc.setLocalProperty(Recorder.ExecKey, null)
      val ex = Exec(nextExec, pass, name, start, if (built < 0) end else built,
        end, ns, error)
      execs += ex
      error.foreach(failures += _)
      (ex, if (error.isEmpty) df else None)
    }

    def apply(): Unit = {
      val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val calib0 = Host.calibS()
      Recorder.full = trace
      val spark = session(work)
      val sessionReady = now()
      setupSpans += (("session", "session", procStart, sessionReady))

      // the cold build of the stored indexes the workload serves from:
      // the run's index directory starts empty, and graft's in-JVM memos
      // (trained models) are empty in a fresh JVM. It is built once: a
      // second build in the same JVM would reuse the memoised models.
      val indexRoot = Paths.get(graft.pipeline.StageCache.indexRoot)
      val i0 = System.nanoTime()
      workload.indexes.foreach { case (name, build) =>
        val t0 = now()
        build(spark, data)
        setupSpans += (("index", name, t0, now()))
      }
      val indexS = (System.nanoTime() - i0) / 1e9
      val indexBytes = Host.treeBytes(indexRoot)

      // warm-up pass: each entry's result is materialised once by its
      // output check, which also fills the JIT. Only the entry calls
      // count as set-up (they fill the in-JVM memos: staged inputs,
      // trained models); the checks are outside every timed region.
      val w0 = now()
      var warmNs = 0L
      Stats.passOrder(workload.entries, seed, 0).foreach { n =>
        spark.catalog.clearCache()
        val t0 = now()
        val n0 = System.nanoTime()
        try {
          val df = entries(n)(spark, data)
          warmNs += System.nanoTime() - n0
          val t1 = now()
          setupSpans += (("warmup_call", n, t0, t1))
          check(n, df, pins).foreach(failures += _)
          setupSpans += (("check", n, t1, now()))
        } catch { case e: Throwable => failures += describe(n, e) }
      }
      (1 to WarmupPasses).foreach { w =>
        Stats.passOrder(workload.entries, seed, -w).foreach { n =>
          runEntry(spark, -w, n, entries(n))
        }
      }
      setupSpans += (("pass", "warmup", w0, now()))
      val setupS = (sessionReady - procStart) / 1e3 - calib0 +
        indexS + warmNs / 1e9
      PerfbenchBus.drain(spark.sparkContext)

      // measured passes
      val box0 = Host.boxBusyS
      val self0 = Host.selfCpuS
      val gc0 = Host.gcMs
      Host.resetHeapPeak()
      val m0 = System.nanoTime()
      // the calibration loop runs before the first pass and after each
      // one, outside the passes' CPU readings
      val calibs = ArrayBuffer(Host.calibS())
      val minPasses = if (trace) MinPasses + 1 else MinPasses
      var p = 1
      while (p <= MaxPasses &&
          (System.nanoTime() - m0 < seconds * 1e9 ||
            p <= minPasses && now() - procStart < LateStartS * 1000L)) {
        // traced runs alternate unrecorded and recorded passes, which
        // prices the recording itself
        val full = trace && p % 2 == 0
        Recorder.full = full
        val cpu0 = Host.workCpuS
        val sh0 = Recorder.shuffleWritten.get
        val w0 = Host.writtenBytes
        val s0 = now()
        val n0 = System.nanoTime()
        Stats.passOrder(workload.entries, seed, p).foreach { n =>
          runEntry(spark, p, n, entries(n))
        }
        val ns = System.nanoTime() - n0
        val end = now()
        val written = Host.writtenBytes - w0
        // the listener thread's share of the pass counts as its work
        PerfbenchBus.drain(spark.sparkContext)
        val cpu = Host.workCpuS - cpu0
        calibs += Host.calibS()
        passes += Pass(p, full, s0, end, ns, cpu, written,
          Recorder.shuffleWritten.get - sh0)
        p += 1
      }
      val wallS = (System.nanoTime() - m0) / 1e9
      val otherCores = ((Host.boxBusyS - box0) - (Host.selfCpuS - self0)) / wallS
      val gcMs = Host.gcMs - gc0
      val heapPeak = Host.heapPeakMb
      Recorder.full = false

      if (workload.name == "batch_sql") Workloads.knownBroken.foreach { n =>
        val r = try check(n, Workloads.entry(n)(spark, data), pins)
          catch { case e: Throwable => Some(describe(n, e)) }
        notes += s"known-broken ${r.getOrElse(s"$n: now passes its pin")}"
      }
      PerfbenchBus.drain(spark.sparkContext)
      spark.stop()

      // the warm-up calls, then every measured execution
      val attempted = execs.size + workload.entries.size
      // every value this run measured; the runner reports the ones
      // BENCHMARK.json lists, with its units
      val e2e = endToEnd(setupS, Stats.median(calibs.toSeq))
      val values = e2e ++ (if (!trace) Map.empty else
        new Layers(execs.toSeq, passes.toSeq, measuredBatches).metrics ++ Map(
          "stagecache.build_s" -> indexS,
          "stagecache.bytes" -> indexBytes.toDouble,
          "jvm.gc_ms" -> gcMs.toDouble / passes.size,
          "jvm.heap_peak_mb" -> heapPeak,
          "host.calib_s" -> Stats.median((calib0 +: calibs).toSeq),
          "host.other_cpu_cores" -> otherCores,
          "trace.overhead_frac" -> overheadFrac,
          // exceptions and failed output checks over executions attempted
          "error_rate" -> failures.size.toDouble / attempted))
      def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
      val diag = JObject(
        "workload" -> JString(workload.name), "seed" -> JLong(seed),
        "passes" -> JInt(passes.size),
        "measured_s" -> JDouble(wallS),
        "calib_start_s" -> JDouble(calib0), "calib_end_s" -> JDouble(calibs.last),
        "pass_calib_s" -> JArray(calibs.map(JDouble(_)).toList),
        "other_cpu_cores" -> JDouble(otherCores),
        "orders" -> JArray((0 until passes.size + 1).map(q =>
          strs(Stats.passOrder(workload.entries, seed, q))).toList),
        "latency" -> latencyJson,
        "pass_s" -> JDouble(Stats.median(passes.map(_.ns / 1e9).toSeq)),
        "pass_times_s" -> JArray(passes.map(q => JDouble(q.ns / 1e9)).toList),
        "pass_cpu_s" -> JArray(passes.map(q => JDouble(q.workCpuS)).toList),
        "notes" -> strs(notes.toSeq),
        "end_to_end" -> JObject(e2e.toList.sortBy(_._1)
          .map { case (k, v) => k -> JDouble(v) }))
      val result = JObject(
        "correct" -> JBool(failures.isEmpty),
        "attempted" -> JInt(attempted),
        "failed" -> JInt(failures.size),
        "values" -> JObject(values.toList.map { case (k, v) => k -> JDouble(v) }),
        "failures" -> strs(failures.toSeq),
        "diag" -> diag)
      Files.writeString(Paths.get(opts("result")), compact(render(result)))
      opts.get("trace-out").filter(_ => trace).foreach { out =>
        val tree = new Trace(procStart, now(), setupSpans.toSeq, execs.toSeq,
          passes.toSeq)
        Files.writeString(Paths.get(out), compact(render(JObject(
          "result" -> result, "self_time" -> tree.selfTableJson,
          "spans" -> tree.spansJson))))
        println(tree.selfTable)
      }
    }

    /** Micro-batches that ran inside measured entry executions. */
    def measuredBatches: Seq[Recorder.BatchRec] = {
      val spans = execs.filter(_.pass > 0).map(e => (e.start, e.end))
      Recorder.synchronized(Recorder.batches.toSeq)
        .filter(b => spans.exists { case (a, z) => b.start >= a && b.start <= z })
    }

    /** Recorded over unrecorded median pass time, minus one. The first
      * measured pass (unrecorded, and the slowest) is left out.
      */
    def overheadFrac: Double = {
      val (on, off) = passes.filter(_.n > 1).partition(_.full)
      if (on.isEmpty || off.isEmpty) 0.0
      else Stats.median(on.map(_.ns.toDouble).toSeq) /
        Stats.median(off.map(_.ns.toDouble).toSeq) - 1
    }

    /** Latency samples in ms: entry executions, or for stream_ingest the
      * triggerExecution time of each micro-batch.
      */
    def latencies: Seq[Double] =
      if (workload.name == "stream_ingest") measuredBatches.map(_.trigger.toDouble)
      else execs.filter(_.pass > 0).map(_.ns / 1e6).toSeq

    /** Percentiles of [[latencies]], null where too few samples lie
      * beyond them (see Stats.percentile).
      */
    def latencyJson: JValue = {
      val xs = latencies
      JObject(List(
        "unit" -> JString(if (workload.name == "stream_ingest") "microbatch" else "entry"),
        "n" -> JInt(xs.size)) ++
        Seq(0.5 -> "p50_ms", 0.9 -> "p90_ms").map { case (q, k) =>
          k -> Stats.percentile(xs, q).map(JDouble(_)).getOrElse(JNull) })
    }

    /** `calibS` is the median time of the calibration loop over the
      * measured passes. A box that runs everything slower (stolen or
      * shared cores) raises CPU time and the loop's time alike, so the
      * work CPU is reported in units of that loop. It is the median over
      * the passes, so a first pass still finishing its JIT compilation
      * does not set it once three or more passes fit in the run.
      */
    def endToEnd(setupS: Double, calibS: Double): Map[String, Double] = Map(
      "setup_s" -> setupS,
      "work_cpu_calib" -> Stats.median(passes.map(_.workCpuS).toSeq) / calibS,
      "shuffle_mb" -> Stats.median(passes.map(_.shuffled / 1e6).toSeq),
      "peak_rss_mb" -> Host.peakRssMb,
      "write_mb" -> Stats.median(passes.map(_.written / 1e6).toSeq))
  }
}
