package graft.sources

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table catalog over the driver's parquet testdata.
  *
  * Mirrors the reference's storage read surface (TiFlash
  * `StorageDeltaMerge` MVCC snapshot scan with column projection and
  * filter pushdown, `/root/reference/dbms/src/Storages/StorageDeltaMerge.cpp`)
  * with Spark's Parquet DSv2 scan: column pruning + predicate pushdown +
  * row-group stat skipping are the Spark-native analog of TiFlash's
  * pack-level min-max rough-set index
  * (`/root/reference/dbms/src/Storages/DeltaMerge/Index/MinMaxIndex.h:31`).
  *
  * Schemas stay resident, as TiFlash keeps synced table schemas in
  * memory (`dbms/src/TiDB/Schema/`): each session remembers, per path,
  * the file signature and the schema Spark inferred from the parquet
  * footer, and reuses the schema while the signature is unchanged.
  * Relations are never shared: every `load` builds a fresh one.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The small dimension tables — always broadcast-joinable. At 100 TB,
    * region/nation stay tiny and supplier/customer/part grow with SF but
    * remain orders of magnitude smaller than the fact tables.
    */
  val dims: Set[String] = Set("region", "nation")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, path(sfDir, name))
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** (path, length, mtime) of a file, or of every file under a
    * directory, sorted by path. A rewrite changes the length or mtime. */
  private[graft] type Signature = Seq[(String, Long, Long)]

  /** None when the path does not exist. */
  private[graft] def signature(spark: SparkSession, path: String): Option[Signature] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(Seq((path, st.getLen, st.getModificationTime)))
      else {
        val files = fs.listFiles(p, true)
        val b = Vector.newBuilder[(String, Long, Long)]
        while (files.hasNext) {
          val f = files.next()
          b += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        Some(b.result().sortBy(_._1))
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** One thread-safe map per session; sessions are held weakly, so a
    * dropped session takes its entries with it. */
  private final class PerSession[V] {
    private val maps = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, V]]())
    def apply(s: SparkSession): ConcurrentHashMap[String, V] =
      maps.computeIfAbsent(s, _ => new ConcurrentHashMap[String, V]())
  }

  private final case class Resolved(signature: Signature, schema: StructType)
  private val schemas = new PerSession[Resolved]

  /** A fresh relation over `path`. While the file's signature matches
    * the one its schema was inferred under, the schema is passed in and
    * Spark reads no footer to infer it. */
  private def read(spark: SparkSession, path: String): DataFrame =
    signature(spark, path) match {
      case None => spark.read.parquet(path) // let Spark report the missing path
      case Some(sig) =>
        val known = schemas(spark)
        Option(known.get(path)).filter(_.signature == sig) match {
          case Some(r) => spark.read.schema(r.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            known.put(path, Resolved(sig, df.schema))
            df
        }
    }

  private final case class Registered(signature: Signature, view: WeakReference[AnyRef])
  private val registered = new PerSession[Registered]

  /** Register `name` from `dir` as a temp view, unless the view this
    * method last registered under that name is still in the catalog and
    * was read under the same file signature (which holds the path). A
    * dropped or replaced view, another directory or a rewritten file
    * re-registers. A failed load leaves nothing recorded, so the next
    * call retries. */
  def registerView(spark: SparkSession, dir: String, name: String): Unit = {
    val mine = registered(spark)
    val catalog = spark.sessionState.catalog
    val sig = signature(spark, path(dir, name))
    val current = Option(mine.get(name)).exists { r =>
      sig.contains(r.signature) &&
        catalog.getRawTempView(name).exists(_ eq r.view.get)
    }
    if (!current) {
      mine.remove(name)
      load(spark, dir, name).createOrReplaceTempView(name)
      for (g <- sig; v <- catalog.getRawTempView(name))
        mine.put(name, Registered(g, new WeakReference[AnyRef](v)))
    }
  }

  /** Normalize `events.ts` to a microsecond timestamp regardless of how
    * the generator wrote the parquet. Historically the column has been
    * produced both as TIMESTAMP(NANOS) — which Spark reads as a long
    * under `spark.sql.legacy.parquet.nanosAsLong=true` — and as
    * TIMESTAMP(MICROS), which arrives as a ready timestamp. Branch on
    * the actual dtype so either vintage of the data reads correctly:
    * long nanos → truncating integer division to µs (matching DuckDB),
    * timestamp → pass through.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // session tz is pinned to UTC, so this cast is wall-clock- and
        // instant-preserving; it keeps `ts` usable with unix_micros &c.,
        // exactly what timestamp_micros produced for the nanos vintage
        df.withColumn("ts",
          df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame = load(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
