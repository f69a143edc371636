package graft

import graft.streaming.Ingest

/** MVCC snapshot semantics on a hand-built changelog — the truth table
  * of `DMVersionFilterBlockInputStream` (newest version <= read_ts
  * wins; delete-marked rows vanish; later reinsert resurrects). */
class MvccSpec extends SparkTestBase {
  import spark.implicits._

  // (user_id, version, delmark, event_type, value, ts)
  private def changelog = Seq(
    (1L, 1L, false, "a", 1.0),   // insert
    (1L, 5L, false, "b", 2.0),   // update
    (2L, 2L, false, "a", 3.0),   // insert
    (2L, 6L, true, "error", 0.0), // delete
    (3L, 3L, true, "error", 0.0), // delete of unseen row
    (3L, 7L, false, "c", 4.0)    // reinsert after delete
  ).toDF("user_id", "version", "delmark", "event_type", "value")
    .withColumn("ts", org.apache.spark.sql.functions.current_timestamp())

  test("snapshot at read_ts=4: pre-update/delete state visible") {
    val snap = Ingest.snapshot(changelog, 4L)
      .select($"user_id", $"version").as[(Long, Long)].collect().toSet
    assert(snap === Set((1L, 1L), (2L, 2L)))   // u3 deleted at v3
  }

  test("snapshot at read_ts=7: update wins, delete hides, reinsert returns") {
    val snap = Ingest.snapshot(changelog, 7L)
      .select($"user_id", $"version").as[(Long, Long)].collect().toSet
    assert(snap === Set((1L, 5L), (3L, 7L)))   // u2 deleted at v6
  }

  test("compaction equals snapshot at max version") {
    val compacted = Ingest.compact(changelog)
      .select($"user_id", $"version").as[(Long, Long)].collect().toSet
    assert(compacted === Set((1L, 5L), (3L, 7L)))
  }

  test("compaction of an empty changelog is empty (no NPE on null max)") {
    val empty = changelog.filter($"version" < 0)
    assert(Ingest.compact(empty).count() === 0L)
  }

  /** The snapshot as it was when the read version was a literal in the
    * filter: the reference for `Ingest.snapshot`'s bound version. */
  private def literalSnapshot(df: org.apache.spark.sql.DataFrame, readTs: Long) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, row_number}
    df.filter($"version" <= lit(readTs))
      .withColumn("rn", row_number().over(Window.partitionBy($"user_id").orderBy($"version".desc)))
      .filter($"rn" === 1 && !$"delmark")
      .drop("rn")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("the bound read version equals the literal-filter window at every version") {
    // a two-segment pile: versions 1-3 in seg=0, 5-7 in seg=1
    val pile = java.nio.file.Files.createTempDirectory("graft-mvcc-bound").resolve("log").toString
    changelog.filter($"version" <= 3).write.parquet(s"$pile/seg=0")
    changelog.filter($"version" > 3).write.parquet(s"$pile/seg=1")
    val segs = spark.read.parquet(pile)
    val below = Seq(Long.MinValue, 0L)
    val between = Seq(3L, 4L) // the last of seg=0, and a version no segment holds
    val atAndAbove = Seq(7L, 8L, Long.MaxValue)
    for (v <- below ++ between ++ atAndAbove) {
      val got = rows(Ingest.snapshot(segs, v))
      assert(got === rows(literalSnapshot(segs, v)), s"read at version $v")
      assert(got.isEmpty === below.contains(v), s"read at version $v: $got")
    }
    assert(rows(Ingest.compact(segs)) === rows(literalSnapshot(segs, 7L)))
    val empty = segs.filter($"version" < 0)
    assert(Ingest.compact(empty).schema === literalSnapshot(empty, Long.MinValue).schema)
    assert(rows(Ingest.compact(empty)).isEmpty)
  }

  test("compaction policy mirrors the reference GC triggers") {
    import Ingest.CompactionPolicy._
    // ratio < 1 → always compact (DeltaMergeStore_InternalBg.cpp:579-580)
    assert(shouldCompactInvalidVersions(SegmentStats(100, 100, 100, 0), 50, 0.5))
    // nothing older than the safepoint → never
    assert(!shouldCompactInvalidVersions(SegmentStats(10, 10, 100, 60), 50, 2.0))
    // many superseded versions: versions > rows·ratio
    assert(shouldCompactInvalidVersions(SegmentStats(10, 100, 25, 0), 50, 2.0))
    // many non-effective versions: versions > puts·ratio
    assert(shouldCompactInvalidVersions(SegmentStats(100, 10, 25, 0), 50, 2.0))
    // healthy segment: neither bound crossed
    assert(!shouldCompactInvalidVersions(SegmentStats(100, 100, 150, 0), 50, 2.0))
    // delete-range trigger: rows OR bytes ratio, with the >= zero-stable
    // small-table edge (delete range present, stable empty → compact)
    assert(shouldCompactDeleteRange(10, 1000, 100, 100000, 0.1))
    assert(shouldCompactDeleteRange(1, 100, 0, 0, 0.1))
    assert(!shouldCompactDeleteRange(0, 0, 0, 0, 0.1))
    assert(!shouldCompactDeleteRange(5, 500, 100, 100000, 0.1))
  }

  test("compaction-policy stats derive from the changelog in one aggregate scan") {
    import Ingest.CompactionPolicy
    val s = CompactionPolicy.stats(changelog)
    assert(s.numVersions === changelog.count())
    assert(s.numPuts === changelog.where(!$"delmark").count())
    assert(s.gcHintVersion ===
      changelog.agg(org.apache.spark.sql.functions.min($"version")).first().getLong(0))
    // a churny changelog (many versions per pk) trips the version trigger
    // once the safepoint passes its oldest version
    assert(CompactionPolicy.shouldCompactInvalidVersions(
      s.copy(numRows = s.numVersions / 10), gcSafepoint = Long.MaxValue, ratio = 2.0))
    val empty = CompactionPolicy.stats(changelog.filter($"version" < 0))
    assert(empty === CompactionPolicy.SegmentStats(0, 0, 0, Long.MaxValue))
  }
}
