package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, GraftSession, SparkEntry}
import graft.sources.Tables
import graft.streaming.Ingest

/** Load generator of the benchmark. `run.py` prepares the inputs, starts
  * this program with `key=value` arguments and reads the JSON record it
  * writes to `out`; checking results against references and turning
  * timings into metrics happens there.
  *
  * It calls only the program's public entry points: `GraftSession.builder`,
  * `Engine.attach`, `Tables.load`, the `SparkEntry.queries` operator
  * functions and `streaming.Ingest`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val traced = opt("trace") == "1"
    val record = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"))
    val listener = new LayerListener
    val spans = new Spans(traced)
    HeapAfterGc.watch()

    val spark = setUp(opt, record)
    opt("workload") match {
      case "htap_ingest" => new Htap(spark, opt, record, listener, spans).run()
      case _ => new QueryMix(spark, opt, record, listener, spans).run()
    }
    record("vmhwm_kb") = vmHwmKb()
    spark.stop() // drains the listener bus before the counters are read
    if (traced) {
      listener.finish()
      record("trace") = Map(
        "spans" -> spans.all.map(_.toMap),
        "jobs" -> listener.jobSpans,
        "stages" -> listener.stageSpans,
        "counters" -> listener.counters.map { case (k, v) => k -> v.toMap }.toMap,
        "progress" -> listener.progress.asScala.toSeq,
        "listener_ms" -> listener.handlerNs / 1e6)
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(record))
  }

  /** Session start and `Engine.attach`, then the benchmark's own
    * `Tables.load` of every table, each timed. */
  private def setUp(opt: Map[String, String],
      record: mutable.Map[String, Any]): SparkSession = {
    val cores = opt("cores").toInt
    val t0 = Clock.nowMs
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.nowMs
    Engine.attach(spark, opt("data"))
    val t2 = Clock.nowMs
    Tables.all.foreach(t => Tables.load(spark, opt("data"), t).schema)
    record("jvm_ms") = t0 - ManagementFactory.getRuntimeMXBean.getStartTime
    record("session_ms") = t1 - t0
    record("attach_ms") = t2 - t1
    record("load_ms") = Clock.nowMs - t2
    spark
  }

  /** Ends set-up, just before the first timed op: a full collection, so
    * every run's timed region starts from the live heap alone, then the
    * process CPU time and wall time since the JVM started. */
  def setUpDone(record: mutable.Map[String, Any]): Unit = {
    HeapAfterGc.reset()
    System.gc()
    record("setup_cpu_ms") = cpuNs() / 1e6
    record("setup_wall_ms") = Clock.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process: every thread, JIT and GC included. */
  def cpuNs(): Long = os.getProcessCpuTime

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Drop everything an op left cached, as a client does once it has
    * consumed a result, so one op's caches cannot leak into the next. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def dirBytes(dir: File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** The largest heap occupancy a collection left behind since the last
  * `reset`: what the program kept live, not what the collector chose to
  * commit. Collections notify on a JMX thread. */
object HeapAfterGc {
  import com.sun.management.GarbageCollectionNotificationInfo._
  @volatile var peak = 0L

  def reset(): Unit = peak = 0L

  def watch(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GARBAGE_COLLECTION_NOTIFICATION) {
            val after = from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            val used = heapPools.flatMap(after.get).map(_.getUsed).sum
            synchronized { peak = math.max(peak, used) }
          }, null, null)
      case _ =>
    }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSeq
}

/** CPU time of the program's Java threads from construction to `stop`.
  * The JVM reports every Java thread but not its JIT compiler and GC
  * threads, so this is the CPU the program's own code (Spark driver,
  * tasks, listeners, the load generator) burns. Threads are sampled
  * every 50 ms, so one that ends inside the interval still counts up to
  * its last sample. */
final class ThreadCpu {
  private val mx = ManagementFactory.getThreadMXBean
  private val last = mutable.Map[Long, Long]()
  @volatile private var stopped = false
  private val sampler = new Thread(() => while (!stopped) { Thread.sleep(50); sample() },
    "perfbench-cpu-sampler")

  private def sample(): Unit = synchronized {
    mx.getAllThreadIds.filter(_ != sampler.getId).foreach { id =>
      val v = mx.getThreadCpuTime(id)
      if (v >= 0) last(id) = v
    }
  }

  sample()
  private val first = synchronized(last.toMap)
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Double = {
    stopped = true
    sampler.join()
    sample()
    val ns: Long = synchronized(last.map { case (id, v) => v - first.getOrElse(id, 0L) }.sum)
    ns / 1e6
  }
}

/** Process-level counters over a timed region. */
final class Region {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  val startMs: Double = Clock.nowMs
  private val cpu0 = Main.cpuNs()
  private val threadCpu = new ThreadCpu
  private val gc0 = gcMs
  private val jit0 = jitMs
  private val host0 = hostTicks()

  /** The machine's (total, steal) CPU ticks from /proc/stat: on a
    * virtual machine, steal is time the host ran something else while a
    * virtual CPU was ready to run. */
  private def hostTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (t.take(8).sum, if (t.length > 7) t(7) else 0L)
    } finally f.close()
  }

  def end(): Map[String, Any] = {
    val host1 = hostTicks()
    Map(
      "start_ms" -> startMs, "end_ms" -> Clock.nowMs,
      "cpu_ms" -> (Main.cpuNs() - cpu0) / 1e6,
      "thread_cpu_ms" -> threadCpu.stop(),
      "gc_ms" -> (gcMs - gc0),
      "jit_ms" -> (jitMs - jit0),
      "heap_peak_bytes" -> heapPools.map(_.getPeakUsage.getUsed).sum,
      "heap_after_gc_peak_bytes" -> HeapAfterGc.peak,
      "steal_share" -> (host1._2 - host0._2).toDouble / math.max(1L, host1._1 - host0._1))
  }
}

/** A query-mix workload (`olap_tpch`): one closed-loop client running
  * the seeded query order, round after round. */
final class QueryMix(spark: SparkSession, opt: Map[String, String],
    record: mutable.Map[String, Any], listener: LayerListener, spans: Spans) {
  private val data = opt("data")
  private val fns = SparkEntry.queries
  // the first `warmups` rounds are untimed; the rest are timed
  private val rounds: Seq[Seq[String]] = opt("rounds").split(";").toSeq.map(_.split(",").toSeq)
  private val warmups = opt("warmups").toInt

  def run(): Unit = {
    record("oracle") = SparkEntry.oracleSql.filter { case (q, _) => rounds.head.contains(q) }
    val refs = warmUp()
    record("refs") = refs.map { case (q, fp) => q -> fp }
    Main.setUpDone(record)
    if (spans.enabled) {
      // the timed rounds untraced twice, then traced: the difference
      // between the last two passes is the tracing overhead (the first
      // pass lets the JIT settle, which would otherwise favour
      // whichever pass runs later)
      timed(refs, "s")
      val plain = new Region
      timed(refs, "u")
      record("region_untraced") = plain.end()
      spark.sparkContext.addSparkListener(listener)
    }
    val region = new Region
    record("ops") = timed(refs, "o")
    record("region") = region.end()
  }

  /** The untimed warmup rounds. The first also writes each result as
    * parquet for the DuckDB oracle check and fingerprints that written
    * result: the reference every timed op of the query must reproduce.
    * The others run the ops as timed rounds do, so the JIT has compiled
    * the hot paths before timing starts. */
  private def warmUp(): Map[String, Seq[Long]] = {
    val t0 = Clock.nowMs
    val refs = rounds.head.map { q =>
      val dir = s"${opt("work")}/results/$q"
      spark.sparkContext.setJobGroup(s"warmup-$q", q)
      val fp =
        try {
          fns(q)(spark, data).write.mode("overwrite").parquet(dir)
          val r = Fingerprint.of(spark.read.parquet(dir)).collect()(0)
          Seq(r.getLong(0), r.getLong(1))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] warmup $q failed: $e")
            Seq(-1L, -1L)
        }
      spark.sparkContext.clearJobGroup()
      Main.releaseCaches(spark)
      q -> fp
    }.toMap
    run(rounds.slice(1, warmups), refs, "w")
    record("warmup_ms") = Clock.nowMs - t0
    refs
  }

  private def timed(refs: Map[String, Seq[Long]], tag: String): Seq[Map[String, Any]] =
    run(rounds.drop(warmups), refs, tag)

  private def run(rs: Seq[Seq[String]], refs: Map[String, Seq[Long]],
      tag: String): Seq[Map[String, Any]] =
    rs.zipWithIndex.flatMap { case (round, r) =>
      round.zipWithIndex.map { case (q, i) => op(s"$tag$r-$i", r, q, refs(q)) }
    }

  /** One op: the operator function builds the DataFrame (eager jobs
    * such as k-means rounds run here), planning is forced on the
    * fingerprint query over it, and the fingerprint action executes it. */
  private def op(id: String, round: Int, q: String, ref: Seq[Long]): Map[String, Any] = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, q)
    val t0 = Clock.nowMs
    var t1, t2 = t0
    val result: Either[String, Row] =
      try spans.span("op", 0, id) { root =>
        val df = spans.span("build", root, id)(_ => fns(q)(spark, data))
        t1 = Clock.nowMs
        val fp = Fingerprint.of(df)
        spans.span("plan", root, id)(_ => fp.queryExecution.executedPlan)
        t2 = Clock.nowMs
        Right(spans.span("exec", root, id)(_ => fp.collect()(0)))
      } catch { case e: Exception => Left(e.toString) }
    val t3 = Clock.nowMs
    sc.clearJobGroup()
    Main.releaseCaches(spark)
    val base = Map[String, Any]("op" -> id, "round" -> round, "query" -> q,
      "start_ms" -> t0, "build_ms" -> (t1 - t0), "plan_ms" -> (t2 - t1),
      "exec_ms" -> (t3 - t2), "end_ms" -> t3)
    result match {
      case Right(r) =>
        val fp = Seq(r.getLong(0), r.getLong(1))
        base ++ Map("rows" -> fp.head, "ok" -> (fp == ref),
          "error" -> (if (fp == ref) null else s"fingerprint $fp != reference $ref"))
      case Left(err) => base ++ Map("rows" -> -1L, "ok" -> false, "error" -> err)
    }
  }
}

/** `htap_ingest`: an open-loop batch generator, one writer thread
  * running the ingest ticks and closed-loop readers making a fixed number
  * of read ops each, all on one session. */
final class Htap(spark: SparkSession, opt: Map[String, String],
    record: mutable.Map[String, Any], listener: LayerListener, spans: Spans) {
  private val work = opt("work")
  private val input = s"$work/input"
  private val log = s"$work/changelog"
  private val mv = s"$work/mv"
  private val batches = new File(opt("batches")).listFiles.filter(_.getName.endsWith(".parquet"))
    .sortBy(_.getName).toSeq
  private val batchRows = opt("batch_rows").toLong
  private val intervalMs = opt("interval_ms").toDouble
  private val pairs = opt("pairs").toInt
  // Batches ingested one tick each before timing starts, so the MV pile
  // already holds segments and reaches the compaction threshold early
  // in the timed window.
  private val prefill = opt("prefill").toInt

  private val delivered = new AtomicInteger(0)
  private val committed = new AtomicInteger(0)
  private val committedVersion = new AtomicLong(-1L)
  // Readers of the MV pile must not list it while a compaction swaps
  // the pile directory; plain appends are safe to read concurrently.
  private val mvLock = new ReentrantReadWriteLock()
  private val ticks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val deliveries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val seenFiles = mutable.Map[String, Long]()

  def run(): Unit = {
    new File(input).mkdirs()
    record("batch_bytes") = batches.map(_.length).sum
    record("batch_rows") = batchRows
    val w0 = Clock.nowMs
    for (i <- 0 until prefill) {
      deliver(i, Clock.nowMs)
      tick(i, warmup = true)
      // both read paths run after every warmup tick but the first, so
      // the JIT has compiled them before timing starts
      if (i > 0) readPair(-1, s"warmup-$i")
    }
    record("warmup_ms") = Clock.nowMs - w0
    Main.setUpDone(record)
    if (spans.enabled) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(listener.streaming)
    }

    val region = new Region
    val t0 = region.startMs
    val generator = thread("generator") {
      for (i <- prefill until batches.size) {
        val due = t0 + (i - prefill) * intervalMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        deliver(i, due)
      }
    }
    val writer = thread("writer") {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
      var k = prefill
      while (generator.isAlive || committed.get < delivered.get) {
        if (committed.get < delivered.get) { tick(k); k += 1 }
        else Thread.sleep(2)
      }
    }
    val readers = (0 until opt("readers").toInt).map { r =>
      thread(s"reader-$r") {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "readers")
        for (n <- 0 until pairs) readPair(r, s"r$r-$n")
      }
    }
    (generator +: writer +: readers).foreach(_.join())
    record("region") = region.end()
    record("ticks") = ticks.asScala.toSeq
    record("deliveries") = deliveries.asScala.toSeq
    record("ops") = reads.asScala.toSeq.filter(_("reader") != -1)
    record("pile_bytes") = Main.dirBytes(new File(log))
    Ingest.compact(spark.read.parquet(log)).write.mode("overwrite").parquet(s"$work/compacted")
    record("compacted_bytes") = Main.dirBytes(new File(s"$work/compacted"))
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start()
    t
  }

  private def deliver(i: Int, dueMs: Double): Unit = {
    val b = batches(i)
    Files.move(b.toPath, Paths.get(input, b.getName), StandardCopyOption.ATOMIC_MOVE)
    deliveries.add(Map("batch" -> i, "due_ms" -> dueMs, "done_ms" -> Clock.nowMs))
    delivered.set(i + 1)
  }

  private def segments(pile: String): Int =
    Option(new File(pile).list).map(_.count(n => n.startsWith("seg=") && n != "seg=-1"))
      .getOrElse(0)

  /** Bytes of files under the piles and their checkpoints that are new
    * (or rewritten) since the previous call. */
  private def newBytes(): Long = {
    var sum = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.exists && !seenFiles.get(f.getPath).contains(f.length)) {
        seenFiles(f.getPath) = f.length
        sum += f.length
      }
    Seq(log, s"$log-ckpt", mv, s"$mv-ckpt").foreach(p => walk(new File(p)))
    sum
  }

  /** One ingest tick: the changelog append and the MV maintenance
    * (which compacts the MV pile under the default policy). Every batch
    * delivered before the tick started is committed when it returns. */
  private def tick(k: Int, warmup: Boolean = false): Unit = {
    val id = s"t$k"
    val visible = delivered.get
    listener.currentTick = id
    spark.sparkContext.setJobGroup(id, "ingest")
    val t0 = Clock.nowMs
    spans.span("tick", 0, id) { root =>
      spans.span("ingest.changelog", root, id)(_ => Ingest.streamIngest(spark, input, log))
      val t1 = Clock.nowMs
      val before = segments(mv)
      val compacting = Ingest.SegmentCompactionPolicy.shouldCompact(before + 1)
      if (compacting) mvLock.writeLock.lock()
      try spans.span("ingest.mv", root, id)(_ => Ingest.streamAggMaintain(spark, input, mv))
      finally if (compacting) mvLock.writeLock.unlock()
      val t2 = Clock.nowMs
      val after = segments(mv)
      val prev = committed.getAndSet(visible)
      committedVersion.set(visible * batchRows - 1)
      ticks.add(Map("tick" -> id, "warmup" -> warmup, "start_ms" -> t0, "changelog_ms" -> (t1 - t0),
        "mv_ms" -> (t2 - t1), "end_ms" -> t2, "committed" -> visible,
        "batches" -> (visible - prev), "segments_before" -> before,
        "segments_after" -> after, "compacted" -> (after < before),
        "bytes_written" -> newBytes()))
    }
    spark.sparkContext.clearJobGroup()
  }

  /** One reader op: a snapshot read, which aggregates the MVCC snapshot
    * at the newest committed version, then an MV read, which folds the
    * aggregate-view pile — the two reads a client refreshing a dashboard
    * makes. Result rows are kept for the check against a recomputation
    * from the batch files. */
  private def readPair(reader: Int, id: String): Unit = {
    spark.sparkContext.setJobGroup(id, "read")
    val t0 = Clock.nowMs
    val parts = spans.span("read", 0, id) { root =>
      Seq(read(root, id, "snapshot"), read(root, id, "mv"))
    }
    spark.sparkContext.clearJobGroup()
    reads.add(Map("op" -> id, "reader" -> reader, "start_ms" -> t0,
      "end_ms" -> Clock.nowMs, "reads" -> parts))
  }

  private def read(root: Long, id: String, kind: String): Map[String, Any] = {
    val t0 = Clock.nowMs
    val committedAtStart = committed.get
    val version = committedVersion.get
    val segs = segments(log)
    val result: Either[String, Seq[Seq[String]]] =
      try spans.span(s"read.$kind", root, id) { _ =>
        val rows = if (kind == "snapshot") {
          Ingest.snapshot(spark.read.parquet(log), version)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(30,2)")).as("vsum"))
            .collect()
        } else {
          mvLock.readLock.lock()
          try Ingest.aggViewOf(spark.read.parquet(mv))
            .select(col("event_type"), col("day").cast("string"), col("cnt"), col("vsum"),
              hll_sketch_estimate(col("users_hll")))
            .collect()
          finally mvLock.readLock.unlock()
        }
        Right(rows.toSeq.map(_.toSeq.map {
          case d: java.math.BigDecimal => d.toPlainString
          case x => String.valueOf(x)
        }))
      } catch { case e: Exception => Left(e.toString) }
    Map("kind" -> kind, "start_ms" -> t0, "end_ms" -> Clock.nowMs, "version" -> version,
      "committed_at_start" -> committedAtStart, "delivered_at_end" -> delivered.get,
      "segments" -> segs, "rows" -> result.toOption.orNull,
      "error" -> result.left.toOption.orNull)
  }
}
