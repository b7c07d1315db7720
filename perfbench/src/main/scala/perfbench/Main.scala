package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.kdc.{KdcLogRecord, KdcMain, KdcQueries, KdcSource, LogLine, Sessionizer}
import graft.streaming.StreamingPipeline

/** JVM half of the benchmark: runs one workload in one driver process
  * and writes its timings and per-layer counters to `<run>/result.json`.
  * `run.py` generates the inputs beforehand and checks the outputs
  * afterwards; nothing here knows the expected answers.
  *
  * Arguments are `key=value`: workload, input (data dir), run (scratch
  * dir for this run), realm, seconds and unit_s (see [[Ctx.units]]),
  * and trace (0|1). The fleet's layer rates also take
  * raw_bytes and sessions (its uncompressed size and session count, from
  * the generator) and, traced, the bzip2 archive's archive,
  * archive_raw_bytes and archive_sessions; a stream
  * pool lists each refresh's session count in `sessions.txt` instead. */
object Main {
  val Reports = Seq("user", "service", "errors", "user-enctypes", "service-enctypes")
  val TopN = 10
  val FewServicesK = 2

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val input: String = args("input")
    val run: String = args("run")
    val realm: String = args("realm")
    /** Measured units per run: the `seconds` window cut into units of
      * `unit_s` seconds, at least three; a traced run measures half as
      * many of each kind (at least three). */
    lazy val units: Int = {
      val n = math.max(3, math.round(args("seconds").toDouble / args("unit_s").toDouble).toInt)
      if (traced) math.max(3, n / 2) else n
    }
    val traced: Boolean = args("trace") == "1"
    val cores: Int = Runtime.getRuntime.availableProcessors
    val trace = new Trace(false)
    val counters = new Counters
    val metrics = mutable.LinkedHashMap[String, Double]()
    val failures = mutable.ArrayBuffer[String]()
    def path(rel: String): String = new File(run, rel).getAbsolutePath
  }

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmToMain = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = ctx.workload match {
      case "kdc_fleet" => new FleetWorkload(ctx).run(jvmToMain)
      case "kdc_stream_refresh" => new StreamWorkload(ctx).run(jvmToMain)
      case "frontends" => FrontEnds.run(ctx); Timings(0, Nil, Nil, 0)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.metrics("jvm.peak_rss_mb") = peakRssMb()
    writeResult(ctx, result)
    // End without Spark's shutdown hooks: stopping a session and deleting
    // its scratch directories only delays the next run, and run.py
    // removes the run's directories itself.
    Runtime.getRuntime.halt(0)
  }

  /** Timings of one run: cold set-up seconds, the measured units' wall and
    * process CPU seconds, and what the checker needs to find the outputs
    * (report sets measured, or refreshes landed). */
  final case class Timings(setup: Double, units: Seq[Double], cpu: Seq[Double],
                           ops: Int)

  def session(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      .config("spark.hadoop.hadoop.tmp.dir", ctx.path("tmp"))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def attempt(ctx: Ctx, what: String)(body: => Unit): Unit =
    try body
    catch {
      case NonFatal(e) =>
        ctx.failures += s"$what: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"perfbench: $what failed: $e")
    }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Run the measured units of work: `ctx.units` of them, so every run
    * of a workload measures the same stretch of the JVM's warm-up, on a
    * fast machine or a slow one.
    * Untraced, every unit runs with tracing off. Traced, units alternate
    * between tracing off and tracing on (spans plus the listener
    * counters), `ctx.units` of each, so the two medians give the tracing
    * overhead; the traced unit of every second pair runs first, so
    * neither side runs later on the JVM's warm-up curve. `unit(op)`
    * returns its own measured seconds, so it can do untimed work around
    * the timed part. Returns (untraced times, traced
    * times, counters summed over the traced units); the process CPU
    * seconds of each untraced unit go to `cpu`. */
  def measure(ctx: Ctx, spark: SparkSession, first: Long, cpu: mutable.Buffer[Double])
             (unit: Long => Double): (Seq[Double], Seq[Double], Map[String, Long]) = {
    val plain, traced = mutable.ArrayBuffer[Double]()
    var counted = Map.empty[String, Long].withDefaultValue(0L)
    var op = first
    var pair = 0
    while (plain.size < ctx.units || (ctx.traced && traced.size < ctx.units)) {
      val order = if (!ctx.traced) Seq(false) else Seq(pair % 2 == 1, pair % 2 == 0)
      for (on <- order) {
        ctx.trace.enabled = on
        ctx.trace.op = op
        if (on) {
          spark.sparkContext.addSparkListener(ctx.counters)
          val before = ctx.counters.snapshot
          traced += unit(op)
          Counters.drain(spark)
          counted = Counters.diff(before, ctx.counters.snapshot)
            .map { case (k, v) => k -> (v + counted(k)) }.withDefaultValue(0L)
          spark.sparkContext.removeSparkListener(ctx.counters)
        } else {
          val c0 = cpuSeconds()
          plain += unit(op)
          cpu += cpuSeconds() - c0
        }
        op += 1
      }
      pair += 1
    }
    ctx.trace.enabled = ctx.traced
    if (ctx.traced) {
      sparkCounters(ctx, counted, traced.size)
      ctx.metrics("trace.untraced_s") = median(plain.toSeq)
      ctx.metrics("trace.traced_s") = median(traced.toSeq)
      ctx.metrics("trace.overhead_s") = median(traced.toSeq) - median(plain.toSeq)
    }
    (plain.toSeq, traced.toSeq, counted)
  }

  def sparkCounters(ctx: Ctx, counted: Map[String, Long], units: Int): Unit = {
    val n = math.max(1, units).toDouble
    val mb = 1024.0 * 1024.0
    ctx.metrics("spark.executor_cpu_s") = counted("cpu_ns") / 1e9 / n
    ctx.metrics("spark.gc_s") = counted("gc_ms") / 1e3 / n
    ctx.metrics("spark.shuffle_write_mb") = counted("shuffle_write") / mb / n
    ctx.metrics("spark.spill_mb") = counted("spill") / mb / n
    ctx.metrics("spark.jobs") = counted("jobs") / n
    ctx.metrics("spark.stages") = counted("stages") / n
    ctx.metrics("spark.tasks") = counted("tasks") / n
  }

  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ---------------------------------------------------------------- layers

  /** The lines of each input file, decompressed the way Hadoop would. */
  def readFiles(spark: SparkSession, glob: String): Seq[Array[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(conf)
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    fs.globStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
    }.map(_.getPath).filterNot(q => q.getName.startsWith(".") || q.getName.startsWith("_"))
      .sortBy(_.toString).map { q =>
        val raw = fs.open(q)
        val in = Option(codecs.getCodec(q)).map(_.createInputStream(raw)).getOrElse(raw)
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        try src.getLines().toArray finally src.close()
      }
  }

  /** Single-thread classifier and session-fold rates over the input:
    * classify-only and fold passes alternate for about two seconds and
    * the fastest pass of each counts. The fold's self time is its pass
    * minus the classify pass over the same lines. */
  def foldLayers(ctx: Ctx, files: Seq[Array[String]]): Unit = {
    val lines = files.iterator.map(_.length).sum
    var classifyS, foldS = Double.MaxValue
    var sessions = 0L
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < 3 || System.nanoTime() - t0 < 2e9) {
      classifyS = math.min(classifyS, ctx.trace("kdc.classify")(timed {
        files.foreach(_.foreach(l => require(LogLine.classify(l) ne null)))
      }))
      foldS = math.min(foldS, ctx.trace("kdc.fold")(timed {
        sessions = files.iterator.map(f => Sessionizer.sessionize(f.iterator).size.toLong).sum
      }))
      passes += 1
    }
    ctx.metrics("kdc.classify.lines_per_s") = lines / classifyS
    ctx.metrics("kdc.fold.sessions_per_s") = sessions / foldS
    ctx.metrics("kdc.fold.self_s") = foldS - classifyS
  }

  def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  /** One no-op pass per parse front-end, best of two, as
    * `<prefix>.<front>.mb_per_s` (uncompressed MB) and `.sessions_per_s`;
    * the shuffle of front-end `own` goes to `kdc.scan.shuffle_mb`. */
  def scanLayers(ctx: Ctx, spark: SparkSession, fronts: Seq[(String, () => Dataset[KdcLogRecord])],
                 prefix: String, own: String, rawBytes: Double, sessions: Double): Unit = {
    val mb = rawBytes / (1024 * 1024)
    spark.sparkContext.addSparkListener(ctx.counters)
    for ((name, ds) <- fronts) {
      var best = Double.MaxValue
      var shuffle = 0L
      for (_ <- 1 to 2) {
        Counters.drain(spark)
        val before = ctx.counters.snapshot
        val t = ctx.trace(s"$prefix.$name")(timed(noop(ds())))
        Counters.drain(spark)
        shuffle = Counters.diff(before, ctx.counters.snapshot)("shuffle_write")
        best = math.min(best, t)
      }
      ctx.metrics(s"$prefix.$name.mb_per_s") = mb / best
      ctx.metrics(s"$prefix.$name.sessions_per_s") = sessions / best
      if (name == own) ctx.metrics("kdc.scan.shuffle_mb") = shuffle / (1024.0 * 1024.0)
    }
    spark.sparkContext.removeSparkListener(ctx.counters)
  }

  /** The report set's queries over records cached beforehand, and then
    * the TSV sink alone over the cached query results. */
  def queryLayers(ctx: Ctx, spark: SparkSession, recs: Dataset[KdcLogRecord]): Unit = {
    val cached = recs.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    cached.count()
    val results = reportFrames(cached, Some(ctx.realm))
    val q = ctx.trace("kdc.queries") {
      timed(results.foreach { case (_, df) => noop(df) })
    }
    val materialized = results.map { case (n, df) => n -> df.localCheckpoint() }
    val sink = ctx.trace("kdc.sink") {
      timed(materialized.foreach { case (n, df) =>
        KdcQueries.tsvLines(df).write.mode("overwrite").text(ctx.path(s"sink/$n"))
      })
    }
    cached.unpersist(blocking = true)
    ctx.metrics("kdc.queries_s") = q
    ctx.metrics("kdc.sink_s") = sink
  }

  /** The seven report frames over already-parsed records, with the
    * columns `KdcMain` writes. */
  def reportFrames(recs: Dataset[KdcLogRecord], realm: Option[String]) = Seq(
    "user" -> KdcQueries.userAuthStats(recs, realm)
      .select("client", "first_ts", "last_ts", "n_auth"),
    "service" -> KdcQueries.serviceUseStats(recs, realm)
      .select("service", "first_ts", "last_ts", "n_req"),
    "errors" -> KdcQueries.commonErrors(recs),
    "user-enctypes" -> KdcQueries.userEnctypeStats(recs, realm)
      .select("client", "enctype", "n_auth", "first_ts", "last_ts"),
    "service-enctypes" -> KdcQueries.serviceEnctypeStats(recs, realm)
      .select("service", "enctype_key", "n_req", "first_ts", "last_ts"),
    "top-users" -> KdcQueries.topN(recs, "client", TopN),
    "few-services" -> KdcQueries.usersWithFewServices(recs, FewServicesK))

  def frontEnds(spark: SparkSession, path: String, v2Path: String)
      : Seq[(String, () => Dataset[KdcLogRecord])] = Seq(
    "records" -> (() => KdcSource.records(spark, path)),
    "aligned" -> (() => KdcSource.recordsAligned(spark, path)),
    "v2" -> (() => v2(spark, v2Path)))

  def v2(spark: SparkSession, path: String): Dataset[KdcLogRecord] =
    spark.read.format("kdclog").load(path).as(Encoders.product[KdcLogRecord])

  /** Per-layer figures of the other workload, which this one does not
    * produce: reported as 0 so every traced run lists every metric. */
  val StreamMetrics = Seq("stream.latest_offset_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.state_commit_ms", "stream.state_rows",
    "stream.files_per_batch", "stream.refresh_p90_s")
  val ArchiveMetrics = Seq("kdc.archive.report_s", "kdc.archive.read_amplification") ++
    Seq("records", "aligned", "v2").flatMap(f =>
      Seq(s"kdc.scan.bz2.$f.mb_per_s", s"kdc.scan.bz2.$f.sessions_per_s"))
  def notMeasured(ctx: Ctx, names: Seq[String]): Unit = names.foreach(ctx.metrics(_) = 0.0)

  def dirBytes(dir: String): Double = dirBytes(Paths.get(dir)).toDouble
  def dirBytes(p: Path): Long =
    Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def writeResult(ctx: Ctx, t: Timings): Unit = {
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ") + "\""
    val metrics = ctx.metrics.map { case (k, v) =>
      s"${str(k)}:${if (v.isNaN || v.isInfinite) "0" else v.toString}"
    }.mkString("{", ",", "}")
    val w = new PrintWriter(ctx.path("result.json"), "UTF-8")
    try w.println(f"""{"setup_s":${t.setup}%.6f,"units_s":${arr(t.units)},""" +
      s""""cpu_s":${arr(t.cpu)},""" +
      s""""ops":${t.ops},"metrics":$metrics,""" +
      s""""failures":${ctx.failures.map(str).mkString("[", ",", "]")}}""")
    finally w.close()
    if (ctx.traced) ctx.trace.write(ctx.path("spans.jsonl"))
  }
}

/** `kdc_fleet`: the report set through `KdcMain`'s default path (the
  * shuffle-by-file parse) over a `host=…/day=…` fleet. One unit of work
  * is the full report set, written as TSV under `<run>/out/<op>/<report>`.
  * A traced run also reads the bzip2 archive (`archive=`): one report set
  * through `KdcMain --v2` and one scan per front-end, under a split bound
  * of [[FleetWorkload.ArchiveSplitBytes]]. */
final class FleetWorkload(ctx: Main.Ctx) {
  import Main._

  private def fleetGlob(dir: String): String =
    new File(dir, "host=*/day=*/*").getAbsolutePath
  private val in = fleetGlob(ctx.input)
  private val warmup = fleetGlob(new File(ctx.input, "../warmup").getCanonicalPath)

  def reportSet(spark: SparkSession, in: String, out: String, v2: Boolean = false): Unit = {
    for (r <- Reports) ctx.trace(s"kdc.main.$r") {
      attempt(ctx, s"$out $r") {
        KdcMain.main(Array(in, s"$out/$r", ctx.realm, s"--report=$r") ++
          (if (v2) Seq("--v2") else Nil))
      }
    }
    val recs = if (v2) Main.v2(spark, in) else KdcSource.records(spark, in)
    val extra = Main.reportFrames(recs, Some(ctx.realm)).filter { case (n, _) =>
      n == "top-users" || n == "few-services" }
    for ((n, df) <- extra) ctx.trace(s"kdc.query.$n") {
      attempt(ctx, s"$out $n") {
        KdcQueries.tsvLines(df).write.mode("overwrite").text(s"$out/$n")
      }
    }
  }

  /** Set-up, cold: the JVM's start, a fresh session and one `KdcMain`
    * invocation with its default arguments (the user report) over the
    * small warm-up input, what a CLI user pays per run. Then untimed
    * warm-up: [[FleetWorkload.WarmSmallSets]] report sets over the
    * warm-up input and [[FleetWorkload.WarmSets]] over the measured one.
    * The JIT compiler is still busy with Spark's planner many report
    * sets in, and the planner's work per query does not grow with the
    * input, so the small sets warm it at a fraction of the cost. Then
    * the measured report sets. */
  def run(jvmToMain: Double): Timings = {
    var spark: SparkSession = null
    ctx.trace.enabled = ctx.traced
    val setup = jvmToMain + timed {
      spark = ctx.trace("setup.session")(session(ctx))
      ctx.trace("setup.cold_pass")(attempt(ctx, "setup") {
        KdcMain.main(Array(warmup, ctx.path("out/setup/user"), ctx.realm))
      })
    }
    for (k <- 0 until FleetWorkload.WarmSmallSets)
      ctx.trace("warm_unit")(reportSet(spark, warmup, ctx.path(s"out/warm-small-$k")))
    for (k <- 0 until FleetWorkload.WarmSets)
      ctx.trace("warm_unit")(reportSet(spark, in, ctx.path(s"out/warm-$k")))
    val cpu = mutable.ArrayBuffer[Double]()
    val (plain, traced, counted) = measure(ctx, spark, 0, cpu) { op =>
      timed(reportSet(spark, in, ctx.path(s"out/$op")))
    }
    if (ctx.traced) {
      ctx.metrics("kdc.scan.read_amplification") =
        counted("fs_read") / dirBytes(ctx.input) / math.max(1, traced.size)
      val files = ctx.trace("kdc.read_input")(readFiles(spark, in))
      foldLayers(ctx, files)
      scanLayers(ctx, spark, frontEnds(spark, in, in), "kdc.scan", own = "records",
        ctx.args("raw_bytes").toDouble, ctx.args("sessions").toDouble)
      queryLayers(ctx, spark, KdcSource.records(spark, in))
      archiveLayers(spark)
      notMeasured(ctx, StreamMetrics)
      ctx.metrics("trace.spans") = ctx.trace.size
    }
    Timings(setup, plain ++ traced, cpu.toSeq, plain.size + traced.size)
  }

  private def archiveLayers(spark: SparkSession): Unit = {
    val dir = ctx.args("archive")
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(key, FleetWorkload.ArchiveSplitBytes.toString)
    try {
      val before = Counters.fsBytesRead
      ctx.metrics("kdc.archive.report_s") = ctx.trace("kdc.archive.report_set") {
        timed(reportSet(spark, dir, ctx.path("out/archive"), v2 = true))
      }
      ctx.metrics("kdc.archive.read_amplification") =
        (Counters.fsBytesRead - before).toDouble / dirBytes(dir)
      scanLayers(ctx, spark, frontEnds(spark, dir, dir), "kdc.scan.bz2", own = "",
        ctx.args("archive_raw_bytes").toDouble, ctx.args("archive_sessions").toDouble)
    } finally conf.unset(key)
  }
}

object FleetWorkload {
  val WarmSmallSets = 4
  val WarmSets = 2

  /** The archive's bzip2 files are a few hundred KiB; a 64 KiB bound (a
    * deployment's block-size choice) makes each one several aligned
    * splits, where the planner's own 256 KiB floor would keep it whole. */
  val ArchiveSplitBytes: Long = 64L << 10
}

/** `kdc_stream_refresh`: two tailing queries over one `kdclog` stream
  * (per-user auth stats and per-service use stats, RocksDB state). One
  * unit of work is a refresh: a pre-generated `refresh=N` tree (one
  * small log per host) is renamed into the watched directory in one
  * step, then both queries are driven to completion. After each refresh
  * the sink tables are dumped under `<run>/state/<N>/` for checking. */
final class StreamWorkload(ctx: Main.Ctx) {
  import Main._

  private val pool = Paths.get(ctx.input)
  private val poolSize = pool.toFile.list().count(_.startsWith("refresh="))
  private val hosts = pool.resolve("refresh=00000").toFile.list().length
  private val WarmRefreshes = 18
  /** State partitions per query: `StreamingPipeline.runOneShot`'s
    * default, which every streaming row of the program uses. */
  private val StatePartitions = 4

  private final class Tail(spark: SparkSession, dir: String) {
    val watch: Path = Paths.get(dir, "watch")
    val staging: Path = Paths.get(dir, "staging")
    Files.createDirectories(watch)
    Files.createDirectories(staging)
    stage(0)
    land(0)
    val progress = mutable.ArrayBuffer[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
    }
    spark.streams.addListener(listener)
    val queries: Seq[(String, StreamingQuery)] =
      StreamingPipeline.withStreamingConfs(spark, StatePartitions,
          Some(StreamingPipeline.RocksDbProvider)) {
        val recs = spark.readStream.format("kdclog").option("recursive", "true")
          .load(watch.toString).as(Encoders.product[KdcLogRecord])
        Seq("user" -> KdcQueries.userAuthStats(recs, Some(ctx.realm)),
            "service" -> KdcQueries.serviceUseStats(recs, Some(ctx.realm))).map {
          case (n, df) =>
            n -> df.writeStream.format("memory").queryName(s"perfbench_$n")
              .outputMode("complete")
              .option("checkpointLocation", s"$dir/checkpoint/$n").start()
        }
      }

    def stage(n: Int): Unit = {
      val name = f"refresh=$n%05d"
      copyTree(pool.resolve(name), staging.resolve(name))
    }
    def land(n: Int): Unit = {
      val name = f"refresh=$n%05d"
      Files.move(staging.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def drive(): Unit = queries.foreach { case (n, q) =>
      ctx.trace(s"stream.process.$n")(q.processAllAvailable())
    }
    def dump(n: Int): Unit = for ((name, _) <- queries) {
      val dir = new File(ctx.path(f"state/$n%05d"))
      dir.mkdirs()
      val w = new PrintWriter(new File(dir, s"$name.tsv"), "UTF-8")
      try spark.table(s"perfbench_$name").collect().foreach(r =>
        w.println(r.toSeq.map(v => if (v == null) "" else v.toString).mkString("\t")))
      finally w.close()
    }
    def stop(): Unit = {
      queries.foreach(_._2.stop())
      spark.streams.removeListener(listener)
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }

  private var tail: Tail = _

  /** Set-up, cold: the JVM's start, a fresh session, both queries
    * started and the first refresh processed. */
  def run(jvmToMain: Double): Timings = {
    var spark: SparkSession = null
    ctx.trace.enabled = ctx.traced
    val setup = jvmToMain + timed {
      spark = ctx.trace("setup.session")(session(ctx))
      tail = ctx.trace("setup.cold_pass") {
        val t = new Tail(spark, ctx.path("stream"))
        attempt(ctx, "refresh 0")(t.drive())
        t
      }
    }
    attempt(ctx, "dump 0")(tail.dump(0))
    var n = 1
    def refresh(): Double = {
      if (n >= poolSize) throw new IllegalStateException(
        s"refresh pool exhausted after $n refreshes: generate a larger pool")
      tail.stage(n)
      val t = timed {
        ctx.trace("stream.land")(tail.land(n))
        attempt(ctx, s"refresh $n")(tail.drive())
      }
      attempt(ctx, s"dump $n")(tail.dump(n))
      n += 1
      t
    }
    // untimed: the first refreshes after set-up run slow while the
    // per-batch path warms up
    ctx.trace("warm_unit")((1 to WarmRefreshes).foreach(_ => refresh()))
    val warm = n
    tail.progress.synchronized(tail.progress.clear())
    val cpu = mutable.ArrayBuffer[Double]()
    val (plain, traced, counted) = measure(ctx, spark, n, cpu)(_ => refresh())
    if (ctx.traced) {
      streamLayers(n - warm, plain ++ traced)
      val landed = (warm until n).map(i => dirBytes(pool.resolve(f"refresh=$i%05d"))).sum
      ctx.metrics("kdc.scan.read_amplification") =
        counted("fs_read").toDouble / math.max(1, traced.size) /
          (landed.toDouble / math.max(1, n - warm))
      val glob = tail.watch.resolve("refresh=*/host=*/*").toString
      val files = ctx.trace("kdc.read_input")(readFiles(spark, glob))
      foldLayers(ctx, files)
      // the watched tree holds refreshes 0 until n, all plain text
      val sessions = scala.io.Source.fromFile(new File(ctx.input, "../sessions.txt"))
        .getLines().take(n).map(_.trim.toDouble).sum
      scanLayers(ctx, spark, frontEnds(spark, glob, glob), "kdc.scan", own = "v2",
        dirBytes(tail.watch).toDouble, sessions)
      notMeasured(ctx, ArchiveMetrics)
      queryLayers(ctx, spark, Main.v2(spark, glob))
      ctx.metrics("trace.spans") = ctx.trace.size
    }
    tail.stop()
    stop(spark)
    Timings(setup, plain ++ traced, cpu.toSeq, n)
  }


  /** Mean per-batch figures over the data-carrying micro-batches of the
    * measured refreshes, both queries pooled. */
  private def streamLayers(refreshes: Int, measured: Seq[Double]): Unit = {
    val ps = tail.progress.synchronized(tail.progress.toList)
      .filter(_.numInputRows > 0)
    // the raw progress events behind these figures, one JSON per line
    val w = new PrintWriter(ctx.path("progress.jsonl"), "UTF-8")
    try ps.foreach(p => w.println(p.json)) finally w.close()
    def mean(f: StreamingQueryProgress => Double) =
      if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size
    def dur(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    ctx.metrics("stream.latest_offset_ms") = mean(dur(_, "latestOffset"))
    ctx.metrics("stream.add_batch_ms") = mean(dur(_, "addBatch"))
    ctx.metrics("stream.wal_commit_ms") = mean(dur(_, "walCommit"))
    ctx.metrics("stream.state_commit_ms") =
      mean(_.stateOperators.map(_.commitTimeMs.toDouble).sum)
    ctx.metrics("stream.state_rows") =
      ps.groupBy(_.id).values.map(_.last.stateOperators.map(_.numRowsTotal).sum).sum
    ctx.metrics("stream.files_per_batch") =
      if (ps.isEmpty) 0.0 else refreshes * hosts * 2.0 / ps.size
    val sorted = measured.sorted
    ctx.metrics("stream.refresh_p90_s") =
      if (sorted.isEmpty) 0.0 else sorted(math.min(sorted.size - 1, (sorted.size * 0.9).toInt))
  }
}
