package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Distributed PCA by power iteration over the embedding corpus — the
  * top principal component used for embedding post-processing
  * (mean-centering + dominant-direction removal, "All-but-the-Top",
  * Mu & Viswanath 2018; also the whitening step in front of PQ/IVF
  * codebook training). Beyond the reference's surface (its vector
  * support stops at distance functions + HNSW,
  * `/root/reference/dbms/src/Functions/FunctionsVector.cpp`), but a
  * standard corpus-scale linear-algebra primitive a 100 TB pipeline
  * needs.
  *
  * Scale shape: the corpus is centered ONCE (per-dim exact means from
  * one pass, broadcast back) and cached; each power-iteration round is
  * one corpus pass — broadcast the 64-long current direction, fold the
  * per-row projection, and partial-aggregate 64 per-dimension sums
  * (map-side combined; only 64 rows shuffle). The direction collect is
  * a bounded 64-value materialization per round, the same justified
  * discipline as `Clustering.materialized` — plan depth stays constant
  * in the iteration count.
  *
  * Determinism bridge (the k-means 1e-6-grid discipline, extended):
  * coordinates center onto an exact integer grid; per-row projections
  * are exact BIGINT folds truncate-divided back to the grid (Spark
  * `div` ≡ DuckDB `//`, both toward zero); per-dimension sums
  * accumulate in DECIMAL(38,0) (≡ DuckDB's HUGEINT SUM — overflow-free
  * at any corpus size); the ONLY float ops per round are the 64-term
  * ascending-index norm fold, one sqrt, and one divide+round per
  * dimension — identical IEEE sequences in both engines.
  */
object Pca {
  private val dims = 64

  /** Exact per-dimension means of the quantized corpus, broadcast back
    * as one 64-double row. */
  private def meanVec(q: DataFrame): DataFrame =
    q.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((sum(round(col("x") * 1000000.0).cast("long")).cast("double") /
        (count(lit(1)) * 1000000.0)).as("m"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("mv"))

  /** vec_id → centered coordinates on the exact 1e-6 integer grid. */
  def centeredGrid(e: DataFrame): DataFrame = {
    val q = Clustering.quantized(e)
    q.crossJoin(broadcast(meanVec(q)))
      .select(col("vec_id"),
        zip_with(col("v"), col("mv"),
          (x, m) => round((x - m) * 1000000.0).cast("long")).as("c"))
  }

  /** Exact integer projection of a centered row onto the grid
    * direction, truncated back to grid units: (Σ cᵢ·v6ᵢ) div 10⁶
    * (toward zero, matching DuckDB `//`). The magnitude path is exact:
    * a − a%10⁶ is a multiple of 10⁶ below 2⁵³, so the double divide
    * returns the integer quotient exactly. */
  private def proj(c: Column, v6: Array[Long]): Column = {
    // ONE array literal (typedLit), not array(lit, lit, ...): 64
    // per-element literals inline their VALUES into the generated
    // source, so every power-iteration round produced new codegen
    // source and paid a fresh janino compile (r17 measurement: the
    // round's wall was dominated by driver plan+compile time, not
    // tasks). A single ArrayData literal rides the references array —
    // the generated source is identical across rounds and the codegen
    // cache hits. Same values, same ArrayType(LongType), same fold.
    val vlit = typedLit(v6.toSeq)
    // r17: codegen integer dot kernel — identical wrapping long ops to
    // the interpreted aggregate(zip_with(...)) it replaces
    val dot = graft.functions.VectorFunctions.vec_dot_long(c, vlit)
    val a = abs(dot)
    val q = ((a - a % lit(1000000L)) / lit(1000000L)).cast("long")
    when(dot < 0, -q).otherwise(q)
  }

  /** Half-away-from-zero rounding (Spark/DuckDB `round` semantics) for
    * the driver-side normalization step. */
  private def halfAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  /** One power-iteration round: s = Σ_rows (c·v) c, then v ← s/‖s‖
    * quantized to the grid. The 64 per-dimension sums ride
    * DECIMAL(38,0); normalization runs driver-side over the collected
    * 64 values with the same IEEE sequence as the oracle's
    * list_reduce. */
  private def iterate(cen: DataFrame, v6: Array[Long]): Array[Long] = {
    val rows = cen
      .select(col("c"), proj(col("c"), v6).as("p"))
      .select(col("p"), posexplode(col("c")).as(Seq("i", "ci")))
      .groupBy(col("i"))
      .agg(sum((col("p") * col("ci")).cast("decimal(38,0)")).as("s"))
      .orderBy(col("i"))
      .collect()
    if (rows.isEmpty) return v6 // empty corpus: direction is unchanged
    require(rows.length == dims, s"expected $dims dims, got ${rows.length}")
    val s = rows.map(_.getDecimal(1).doubleValue())
    val nrm = math.sqrt(s.foldLeft(0.0)((acc, x) => acc + x * x))
    if (nrm == 0.0) return v6 // degenerate (all-identical) corpus
    s.map(x => halfAway(x / nrm * 1000000.0))
  }

  /** `iters` power-iteration rounds from the deterministic uniform
    * start (all 0.125 — exactly unit-norm at 64 dims); returns the
    * grid-quantized dominant direction. */
  def powerIteration(cen: DataFrame, iters: Int): Array[Long] = {
    val v0 = Array.fill(dims)(125000L)
    (0 until iters).foldLeft(v0)((v, _) => iterate(cen, v))
  }

  /** Rayleigh-quotient estimate ‖Σ(c·v)c‖-style objective used by the
    * monotonicity contract: Σ_rows (c·v)² in grid units (exact). */
  def rayleigh(cen: DataFrame, v6: Array[Long]): BigDecimal = {
    val r = cen.select(proj(col("c"), v6).as("p"))
      .agg(sum((col("p") * col("p")).cast("decimal(38,0)"))).head()
    BigDecimal(r.getDecimal(0))
  }

  private def duckProj(cRel: String, vRel: String): String =
    s"""SELECT vec_id, c, list_reduce(
       |    list_transform(list_zip(c, v), q -> q[1] * q[2]),
       |    (a, b) -> a + b) // 1000000 AS p
       |  FROM $cRel, $vRel""".stripMargin

  private def duckIter(cRel: String, vPrev: String, k: Int): String =
    s"""d$k AS (${duckProj(cRel, vPrev)}),
       |s$k AS (SELECT i, SUM(p * c[i + 1]) AS s
       |        FROM d$k CROSS JOIN range(${dims}) t(i) GROUP BY i),
       |n$k AS (SELECT sqrt(list_reduce(
       |          list_transform(list(CAST(s AS DOUBLE) ORDER BY i), x -> x * x),
       |          (a, b) -> a + b)) AS nrm FROM s$k),
       |v$k AS (SELECT list(CAST(round(CAST(s AS DOUBLE) / nrm * 1000000.0)
       |                         AS BIGINT) ORDER BY i) AS v
       |        FROM s$k, n$k)""".stripMargin

  /** Three power-iteration rounds over the embeddings; output is every
    * vector's exact integer projection (1e-6 grid) onto the dominant
    * direction, with its label. The oracle replays the identical
    * iteration chain as CTEs (the q131 k-means pattern). */
  val q202PcaPower: QueryDef = QueryDef(
    "q202_pca_power",
    s"""WITH e AS (SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> round(CAST(x AS DOUBLE) * 1000000.0) / 1000000.0) AS v
       |  FROM embeddings),
       |mean AS (SELECT list(m ORDER BY i) AS mv FROM (
       |  SELECT i, CAST(SUM(CAST(round(v[i + 1] * 1000000.0) AS BIGINT)) AS DOUBLE)
       |         / (COUNT(*) * 1000000.0) AS m
       |  FROM e CROSS JOIN range(${dims}) t(i) GROUP BY i)),
       |cen AS (SELECT vec_id, list_transform(range(0, ${dims}),
       |    i -> CAST(round((v[i + 1] - mv[i + 1]) * 1000000.0) AS BIGINT)) AS c
       |  FROM e, mean),
       |v0 AS (SELECT list_transform(range(0, ${dims}),
       |    i -> CAST(125000 AS BIGINT)) AS v),
       |${duckIter("cen", "v0", 1)},
       |${duckIter("cen", "v1", 2)},
       |${duckIter("cen", "v2", 3)},
       |f AS (${duckProj("cen", "v3")})
       |SELECT f.vec_id, e.label, CAST(f.p AS BIGINT) AS proj6
       |FROM f JOIN e ON f.vec_id = e.vec_id""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
    // Persist-materialize-release discipline (same as q201/q215): the
    // cache stays in place through the RETURNED DataFrame's final
    // action — an eager unpersist here would make the timed action
    // re-derive centeredGrid (quantize → posexplode mean → broadcast
    // crossJoin) from scratch, one extra corpus pass that round 10
    // measured as the q202 bench breach. The harness (Bench, Verify)
    // sweeps it via CacheHygiene after consuming output.
    val cen = centeredGrid(e).cache()
    val v = powerIteration(cen, iters = 3)
    cen.select(col("vec_id"), proj(col("c"), v).as("proj6"))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("proj6"))
  }

  // headline: the iterative-trainer representative — repeated bounded
  // corpus passes with constant plan depth (same family as q131 kmeans)
  val all: Seq[QueryDef] = Seq(q202PcaPower.copy(headline = true))
}
