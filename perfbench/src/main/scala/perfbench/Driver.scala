package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CorpusCheck, SparkEntry}

/** One benchmark run in one fresh JVM: set up, warm up on the small corpus
  * (hashing every query's result there for the correctness check), then
  * time closed-loop passes over a workload's queries on the timed corpus.
  * Writes a JSON record that `run.py` turns into metrics.
  *
  * Usage: Driver --workload W --seed N --seconds S --trace 0|1
  *                --corpus DIR --warm DIR --out FILE [--spans FILE]
  *                [--corpus-md5 M]  (a cached CorpusCheck stamp of DIR)
  *
  * Each query is built with `SparkEntry.queries(name)(spark, dir)` and
  * materialised through the `noop` sink, with the session conf of
  * `graft.Bench`. With `--trace 1` a first untraced pass gives the
  * baseline for the tracing overhead; later passes tag every job with its
  * query and phase, force `executedPlan` as a separate plan phase, and
  * record pass, query and build/plan/run spans. */
object Driver {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val nproc = Runtime.getRuntime.availableProcessors()

  private def now(): Double = System.nanoTime() / 1e9
  private def cpuNow(): Double = os.getProcessCpuTime / 1e9
  private def loadPerCore(): Double = os.getSystemLoadAverage / nproc
  private def gcNow(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  private def jitNow(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** CPU seconds of the JIT compiler threads, from /proc/self/task/<tid>/stat
    * (utime + stime, in clock ticks of 10 ms). The JVM is started with a
    * fixed set of compiler threads, so none exits and takes its time along. */
  private def jitCpuNow(): Double = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array())
    tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (comm.contains("CompilerThre")) (f(11).toLong + f(12).toLong) / 100.0
        else 0.0
      } catch { case _: java.io.IOException => 0.0 }
    }.sum
  }

  /** Peak old-generation occupancy right after a full collection during the
    * timed passes (while `open` is set), with the sample `close` takes at
    * their end. Young collections are skipped: what they leave in the old
    * generation depends on when the concurrent cycle last ran, which varies
    * from run to run. */
  private object OldGenAfterGc extends NotificationListener {
    @volatile var open = false
    @volatile var peakMb = 0.0
    @volatile private var windowPeakMb = 0.0
    @volatile private var last = 0.0
    @volatile var samples = 0
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter]
        .addNotificationListener(this, null, null))
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (open && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major"))
          info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if pool.contains("Old Gen") ||
              pool.contains("Tenured") => u.getUsed / 1e6 }
            .foreach { mb =>
              last = mb
              windowPeakMb = math.max(windowPeakMb, mb)
              samples += 1
            }
      }

    /** Closes the window with one more sample: the least old-generation
      * occupancy over three full collections 0.5 s apart. Spark's
      * ContextCleaner drops finished queries' state asynchronously, after a
      * collection has made it unreachable, so one collection alone reads
      * whatever the cleaner had not reached yet. */
    def close(): Unit = {
      open = false
      val inWindow = windowPeakMb
      val after = (1 to 3).map { _ =>
        Thread.sleep(500)
        val before = samples
        open = true
        System.gc()
        val t0 = now()
        while (samples == before && now() - t0 < 2.0) Thread.sleep(10)
        open = false
        last
      }
      peakMb = math.max(inWindow, after.min)
    }
  }

  /** A session with `graft.Bench`'s conf at `local[nproc]`. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def materialise(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Canonical sorted-row md5 of a result, the shape `graft.Verify` logs:
    * columns by name, doubles as 12-significant-digit scientific, nulls as
    * NUL, rows sorted, md5 over newline-terminated rows. */
  def rowHash(df: DataFrame): String = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, format_string, lit}
    val cols = df.columns.sorted
    val rendered = cols.map { cn =>
      val base = df.schema(cn).dataType.typeName match {
        case "double" | "float" => format_string("%.12e", col(cn).cast("double"))
        case _ => col(cn).cast("string")
      }
      coalesce(base, lit("\u0000"))
    }
    val lines = df.select(concat_ws("\u0001", rendered.toIndexedSeq: _*))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString + s":rows=${lines.length}"
  }

  final case class Span(id: Int, parent: Int, name: String, pass: Int,
      query: String, start: Double, end: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val corpus = opt("corpus")
    val warmDir = opt("warm")
    val names = Workloads.queries(workload)
    val loadStart = loadPerCore()

    val t0 = now()
    val spark = session()
    val tSession = now()

    // Warm-up on the small corpus only, never on the timed one: each of the
    // workload's queries once, hashing its result for the correctness
    // check, then one tiny noop write so the sink's code is warm too.
    val hashes = mutable.LinkedHashMap.empty[String, String]
    val warmFailures = mutable.LinkedHashMap.empty[String, String]
    val warmLat = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      val s = now()
      try hashes(n) = rowHash(SparkEntry.queries(n)(spark, warmDir))
      catch { case e: Throwable =>
        warmFailures(s"$n (check)") = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      warmLat(n) = now() - s
      release(spark)
    }
    materialise(spark.range(1).toDF())
    System.gc()
    val tWarm = now()
    // Let the JIT compile queue drain (bounded), so the first timed pass
    // does not share the cores with compiler threads.
    var jitSeen = jitNow()
    var quietTicks = 0
    while (quietTicks < 2 && now() - tWarm < 8.0) {
      Thread.sleep(250)
      val j = jitNow()
      quietTicks = if (j - jitSeen < 0.025) quietTicks + 1 else 0
      jitSeen = j
    }
    val tQuiet = now()
    val setupDoneEpoch = java.time.Instant.now()
    val setupJit = jitNow()
    val setupGc = gcNow()

    // ---- timed passes --------------------------------------------------
    var phase: (Long, String) = (-1L, "other")
    val listener = new LayerListener(() => phase)
    val spans = mutable.ArrayBuffer.empty[Span]
    val rng = new scala.util.Random(seed)
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var qid = 0L
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sc = spark.sparkContext
    OldGenAfterGc.install()
    OldGenAfterGc.open = true
    val tTimed = now()
    var traced = false

    def span(name: String, pass: Int, query: String, parent: Int, s: Double): Int = {
      spans += Span(spans.size, parent, name, pass, query, s - tTimed, s - tTimed)
      spans.size - 1
    }
    def close(id: Int, e: Double): Unit = spans(id) = spans(id).copy(end = e - tTimed)

    def runPass(pass: Int): Unit = {
      val order = rng.shuffle(names)
      val layers = new Counters
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val w0 = now(); val c0 = cpuNow(); val j0 = jitCpuNow()
      val passSpan = if (traced) span("pass", pass, "", -1, w0) else -1
      order.foreach { name =>
        qid += 1
        attempted += 1
        val q0 = now()
        val qSpan = if (traced) span("query", pass, name, passSpan, q0) else -1
        var inPhases = 0.0
        // Runs one phase; traced, it tags the phase's jobs and records a
        // span plus the JVM's GC and JIT time inside it.
        def phaseRun[T](ph: String)(body: => T): T = {
          if (!traced) body
          else {
            phase = (qid, ph)
            sc.setLocalProperty(Tags.Qid, qid.toString)
            sc.setLocalProperty(Tags.Phase, ph)
            val g0 = gcNow(); val j0 = jitNow()
            val id = span(ph, pass, name, qSpan, now())
            val r = body
            close(id, now())
            inPhases += spans(id).end - spans(id).start
            layers.add(s"jvm.gc_s.$ph", gcNow() - g0)
            layers.add(s"jvm.jit_s.$ph", jitNow() - j0)
            layers.add(ph match {
              case "build" => "entry.build_s"
              case "plan" => "catalyst.plan_s"
              case _ => "exec.run_s"
            }, spans(id).end - spans(id).start)
            r
          }
        }
        try {
          val df = phaseRun("build")(SparkEntry.queries(name)(spark, corpus))
          if (traced) {
            phaseRun("plan")(df.queryExecution.executedPlan)
            df.queryExecution.tracker.phases.foreach { case (p, s) =>
              layers.add(s"catalyst.${p}_s", s.durationMs / 1e3)
            }
          }
          phaseRun("run")(materialise(df))
          val q1 = now()
          lat(name) = q1 - q0
          if (traced) {
            close(qSpan, q1)
            layers.add("trace.gap_s", (q1 - q0) - inPhases)
          }
        } catch { case e: Throwable =>
          failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        sc.setLocalProperty(Tags.Qid, null)
        sc.setLocalProperty(Tags.Phase, null)
        phase = (-1L, "other")
        release(spark)
        if (traced) {
          PerfbenchBus.drain(sc)
          listener.take(qid).foreach { case (ph, c) => foldPhase(layers, ph, c) }
        }
      }
      val w1 = now()
      if (traced) {
        close(passSpan, w1)
        layers.add("entry.driver_s", layers("entry.build_s") - layers("entry.job_s"))
      }
      // Process CPU without the JIT compiler threads: they keep compiling
      // Spark's code for many passes after the warm-up, and how much of
      // that lands in a pass varies from run to run.
      val jit = jitCpuNow() - j0
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (w1 - w0),
        "cpu_s" -> (cpuNow() - c0 - jit), "jit_cpu_s" -> jit,
        "lat" -> lat, "layers" -> layers.values)
    }

    // The first pass settles JIT compilation on the timed corpus' data
    // sizes; run.py reports it apart. An untraced run then times at least
    // two settled passes. A traced run times one untraced settled pass,
    // the baseline for the tracing overhead, then at least one traced one.
    var pass = 0
    while (pass < (if (trace) 2 else 1)) { runPass(pass); pass += 1 }
    if (trace) {
      traced = true
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener.queryExecutions)
      spark.streams.addListener(listener.streaming)
    }
    while (pass < 3 || now() - tTimed < seconds) { runPass(pass); pass += 1 }
    OldGenAfterGc.close()
    val timedS = now() - tTimed
    if (trace) {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(listener.queryExecutions)
      spark.streams.removeListener(listener.streaming)
    }

    val loadEnd = loadPerCore()
    val tS0 = now()
    val corpusMd5 = opt.getOrElse("corpus-md5", CorpusCheck.stamp(spark, corpus)._2)
    val stampS = now() - tS0

    val record = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "corpus_md5" -> corpusMd5, "load_start" -> loadStart, "load_end" -> loadEnd,
      "setup_done_epoch_s" -> (setupDoneEpoch.getEpochSecond +
        setupDoneEpoch.getNano / 1e9),
      "stamp_s" -> stampS,
      "setup" -> Map("session_s" -> (tSession - t0),
        "warm_s" -> (tWarm - tSession), "jit_quiet_s" -> (tQuiet - tWarm),
        "warm_lat" -> warmLat, "jit_s" -> setupJit, "gc_s" -> setupGc),
      "timed_s" -> timedS, "passes" -> passes,
      "heap_peak_mb" -> OldGenAfterGc.peakMb, "heap_samples" -> OldGenAfterGc.samples,
      "attempted" -> (attempted + names.size), "failures" -> (warmFailures ++ failures),
      "hashes" -> hashes)
    Files.writeString(Paths.get(opt("out")), Json(record))
    opt.get("spans").filter(_ => trace).foreach { f =>
      Files.writeString(Paths.get(f), Json(spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
        "query" -> s.query, "start_s" -> s.start, "end_s" -> s.end))))
    }
    spark.stop()
  }

  /** Folds one phase's listener counters into a pass's per-layer totals. */
  private def foldPhase(layers: Counters, ph: String, c: Counters): Unit = {
    def put(k: String, v: Double): Unit =
      if (LayerListener.maxKeys.exists(m => k == m || k.startsWith(m + ".")))
        layers.max(k, v)
      else layers.add(k, v)
    ph match {
      case "build" =>
        layers.add("tables.open_s", c("jobs.tables_s"))
        layers.add("tables.open_jobs", c("jobs.tables"))
        layers.add("entry.eager_s", c("jobs.other_s"))
        layers.add("entry.eager_jobs", c("jobs.other"))
        layers.add("entry.job_s", c("jobs.all_s"))
      case "run" =>
        layers.add("exec.jobs", c("jobs.other") + c("jobs.tables"))
      case _ =>
        layers.add(s"exec.jobs.$ph", c("jobs.other") + c("jobs.tables"))
    }
    c.values.foreach { case (k, v) =>
      if (k.startsWith("exec.") || k.startsWith("catalyst.")) {
        put(if (ph == "run" && k.startsWith("exec.")) k else s"$k.$ph", v)
      } else if (!k.startsWith("jobs.")) put(k, v)
    }
  }
}

/** The class-loading run behind the class-data-sharing archive that
  * `run.py` builds once per checkout: the first two queries of every
  * workload once on the small corpus, so most classes the benchmark loads
  * come from the archive instead of being parsed and verified per run.
  *
  * Usage: Train DIR */
object Train {
  def main(args: Array[String]): Unit = {
    val spark = Driver.session()
    Workloads.names.flatMap(w => Workloads.queries(w).take(2)).foreach { n =>
      Driver.materialise(SparkEntry.queries(n)(spark, args(0)))
      Driver.release(spark)
    }
    spark.stop()
  }
}
