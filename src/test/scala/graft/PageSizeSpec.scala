package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Execution-memory pages sized to the heap (`GraftSession.pageSizeFor`):
  * the rule itself, the live session's page size, that a tiny aggregate
  * takes a small page, and exact results at page boundaries (a record
  * larger than a page, buffers spanning 100+ pages). */
class PageSizeSpec extends SparkTestBase with Eventually {
  private val MiB = 1L << 20
  private val GiB = 1L << 30

  /** The page size of the running session's memory manager. */
  private def livePageSize: Long = {
    spark.sparkContext
    SparkEnv.get.memoryManager.pageSizeBytes
  }

  test("page rule: floor, cap and the heap sizes in between") {
    import GraftSession.pageSizeFor
    assert(pageSizeFor(8 * GiB) === MiB)
    assert(pageSizeFor(64 * GiB) === 8 * MiB)
    assert(pageSizeFor(512 * MiB) === MiB)
    assert(pageSizeFor(8 * GiB + 1) === 2 * MiB)
    assert(pageSizeFor(4096 * GiB) === 64 * MiB)
    assert(pageSizeFor(Long.MaxValue) === 64 * MiB)
    // up to the cap, 8192 pages cover the heap with the smallest power of two
    val heaps = (20 to 39).flatMap(b => Seq((1L << b) - 1, 1L << b, (1L << b) + 1, 3L << (b - 1)))
    heaps.filter(_ <= 8192 * 64 * MiB).foreach { heap =>
      val page = pageSizeFor(heap)
      assert(java.lang.Long.bitCount(page) === 1 && page >= MiB && page <= 64 * MiB, s"heap $heap")
      assert(8192 * page >= heap, s"heap $heap: page $page leaves the heap uncovered")
      assert(page == MiB || 8192 * (page / 2) < heap, s"heap $heap: page $page is not the smallest")
    }
  }

  /** Runs `body` and returns (stage id, peak execution memory) of every
    * task of the jobs it started, read through a `SparkListener`. */
  private def taskPeaks(body: => Unit): Seq[(Int, Long)] = {
    val sc = spark.sparkContext
    val group = s"page-size-${System.nanoTime}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val peaks = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          e.stageIds.foreach(stages.add)
          started.add(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) peaks.add(e.stageId -> e.taskMetrics.peakExecutionMemory)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "page size")
      try body finally sc.clearJobGroup()
      // the bus delivers a job's task ends before its job end
      eventually(timeout(Span(30, Seconds))) {
        assert(!started.isEmpty && started.asScala.forall(ended.contains))
      }
    } finally sc.removeSparkListener(listener)
    peaks.asScala.toSeq.filter(p => stages.contains(p._1))
  }

  test("the live session takes the rule's page size, and a tiny group-by takes a small page") {
    assert(livePageSize === GraftSession.pageSizeFor(Runtime.getRuntime.maxMemory))
    var counts = Map.empty[Long, Long]
    val peaks = taskPeaks {
      counts = spark.range(0, 8, 1, 2).groupBy((col("id") % 3).as("k")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(counts === Map(0L -> 3L, 1L -> 3L, 2L -> 2L))
    assert(peaks.nonEmpty && peaks.map(_._2).max > 0L, s"task peaks: $peaks")
    assert(peaks.map(_._2).max <= 4 * MiB, s"task peaks (stage, bytes): $peaks")
  }

  test("a record larger than a page comes out exact through sort, hash aggregate and broadcast build") {
    val half = 3 * (1 << 19) + 9
    // ids 0..9 repeated twice; id 7's string is 3 MiB, built in the task
    // (a literal would be folded into the plan)
    val rows = spark.range(0, 20, 1, 2).select((col("id") % 10).as("k"))
      .select(col("k"), concat(lit("r"), col("k").cast("string"),
        repeat(lit("ab"), when(col("k") === 7, half).otherwise(0))).as("s"))
    def expected(k: Long): String = s"r$k" + (if (k == 7) "ab" * half else "")
    assert(expected(7).length > livePageSize)

    val sorted = rows.orderBy(col("s").desc, col("k")).collect().map(r => r.getLong(0) -> r.getString(1))
    val want = (0L until 20L).map(i => (i % 10) -> expected(i % 10)).sortBy(_._2)(Ordering[String].reverse)
    assert(sorted.map(_._1).toSeq === want.map(_._1))
    assert(sorted.forall { case (k, s) => s == expected(k) })

    val grouped = rows.groupBy(col("s")).agg(count(lit(1)).as("n"), sum(col("k")).as("ks")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(grouped === (0L until 10L).map(k => expected(k) -> (2L, 2 * k)).toMap)

    val probe = spark.range(0, 10, 1, 2).select(col("id").as("pk"),
      concat(lit("key"), col("id").cast("string")).as("jk"))
    val build = rows.filter(col("k") >= 5).dropDuplicates("k")
      .select(concat(lit("key"), col("k").cast("string")).as("jk"), col("s"))
    val joined = probe.join(broadcast(build), "jk")
    val out = joined.select(col("pk"), col("s")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === (5L until 10L).map(k => k -> expected(k)).toMap)
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      joined.queryExecution.executedPlan.toString)
  }

  test("a sort and an aggregate whose buffers span 100+ pages match exact counts and sums") {
    val page = livePageSize
    val n = 1000000L
    // one partition, ~130 bytes a row, so one task holds every row
    val rows = spark.range(0, n, 1, 1).select(col("id"), format_string("%0100d", col("id")).as("s"))
    var sortCheck: (Long, Long, Long) = null
    val sortPeaks = taskPeaks {
      import spark.implicits._
      // per partition: rows, sum of ids, rows out of descending order
      sortCheck = rows.sortWithinPartitions(col("s").desc).as[(Long, String)].mapPartitions { it =>
        var (rowsSeen, idSum, disorder, prev) = (0L, 0L, 0L, Long.MaxValue)
        it.foreach { case (id, s) =>
          rowsSeen += 1; idSum += id
          if (id >= prev || s.toLong != id) disorder += 1
          prev = id
        }
        Iterator((rowsSeen, idSum, disorder))
      }.collect().reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    }
    assert(sortCheck === ((n, n * (n - 1) / 2, 0L)))
    assert(sortPeaks.map(_._2).max >= 100 * page, s"sort task peaks (stage, bytes): $sortPeaks")

    var aggCheck: (Long, Long, Long, Long) = null
    val aggPeaks = taskPeaks {
      val r = rows.groupBy(col("s")).agg(count(lit(1)).as("c"), sum(col("id")).as("t"))
        .agg(count(lit(1)), sum(col("c")), sum(col("t")), max(col("c"))).collect().head
      aggCheck = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    assert(aggCheck === ((n, n, n * (n - 1) / 2, 1L)))
    assert(aggPeaks.map(_._2).max >= 100 * page, s"aggregate task peaks (stage, bytes): $aggPeaks")
  }
}
