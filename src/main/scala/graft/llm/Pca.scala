package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scope, Tables}

/** X-PCA (SURVEY.md §2.7): top principal component of the embedding
  * corpus via power iteration in the exact-integer domain — the
  * data-dependent sibling of X-RANDPROJ (JL projects blindly; PCA finds
  * the direction the corpus actually varies along, the first rung of
  * spectral whitening / dedup-by-dominant-axis).
  *
  * The whole computation is exact and engine-mirrorable:
  *
  *  1. quantize `floor(x·1024)` (the X-KMEANS convention);
  *  2. the 64×64 scatter matrix C = n·Σqqᵀ − (Σq)(Σq)ᵀ — n² times the
  *     covariance, every cell an exact BIGINT. The DISTRIBUTED work is
  *     all here: one corpus pass with a 64×64-per-row outer-product
  *     fanout into a partial+final agg keyed (i, j) — the map-side
  *     combine collapses every partition to ≤4096 cells + 64 sums, so
  *     the exchange carries O(dims²) counters per partition at any
  *     corpus size (the classic single-pass Gram accumulation);
  *  3. power iteration runs DRIVER-SIDE on the collected 64×64 matrix —
  *     metadata-sized math (the BPE-argmax / broadcast-centroid
  *     precedent), in BigInt so nothing overflows at any scale. Each of
  *     the [[Rounds]] rounds: w = C·v, then renormalize
  *     v ← sign(w)·(|w|·2^20 div max|w|) — the one integral division per
  *     component is on nonnegative operands, so the truncating and
  *     flooring engines agree. Fixed round count, unrolled identically
  *     in the oracle (the PageRank/kmeansIter determinate-truncation
  *     convention; power iteration converges geometrically in the
  *     spectral gap, and the Rayleigh-quotient monotonicity law is
  *     spec'd);
  *  4. the corpus projects onto the final v with a row-local integer
  *     fold; the report is one label-keyed agg.
  *
  * Output per label: n_vectors and exact projection sum/min/max, plus
  * two pinned global columns — `var_pc` = (vᵀCv div vᵀv) div n² (the
  * variance along the component in quantized units², scale-independent)
  * and `vec_checksum` = Σ v_i·(i+1) (pins every eigenvector component on
  * both engines; the sign of v is NOT canonicalized — both engines run
  * the identical iteration from the identical v₀, so there is no
  * ambiguity to resolve).
  */
object Pca {

  val Rounds = 5
  val VScale: Long = 1L << 20
  val Dims = 64

  /** Driver-side exact power iteration: returns the per-round vectors
    * v₀..v_R (each components in [−2^20, 2^20]) — exposed so the spec can
    * assert the Rayleigh quotient is non-decreasing round over round.
    */
  def powerIterate(c: Array[Array[BigInt]], rounds: Int): Seq[Array[BigInt]] = {
    val d = c.length
    var v = Array.fill(d)(BigInt(VScale))
    val trace = scala.collection.mutable.ArrayBuffer(v)
    (1 to rounds).foreach { _ =>
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      v = if (m == 0) Array.fill(d)(BigInt(0))
      else w.map(x => (if (x < 0) BigInt(-1) else BigInt(1)) * ((x.abs * VScale) / m))
      trace += v
    }
    trace.toSeq
  }

  /** Rayleigh quotient vᵀCv div vᵀv (exact; 0 for the zero vector). */
  def rayleigh(c: Array[Array[BigInt]], v: Array[BigInt]): BigInt = {
    val d = c.length
    val vtv = v.map(x => x * x).sum
    if (vtv == 0) BigInt(0)
    else {
      val vtcv = (0 until d).map(i =>
        (0 until d).map(j => c(i)(j) * v(i) * v(j)).sum).sum
      vtcv / vtv
    }
  }

  /** The exact scatter matrix C = n·Σqqᵀ − (Σq)(Σq)ᵀ plus n, from the
    * quantized corpus. Two jobs: the (i,j) cell agg (the heavy one) and
    * one light (n, per-dim sums) agg.
    */
  def scatterOf(q: DataFrame): (Long, Array[Array[BigInt]]) = {
    val cells = q
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"), posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("sqq"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val sums = q
      .select(posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("i").agg(sum("qi").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    val n = sums.headOption.map(_._2._2).getOrElse(0L)
    val c = Array.tabulate(Dims, Dims)((i, j) =>
      BigInt(n) * BigInt(cells.getOrElse((i, j), 0L)) -
        BigInt(sums.get(i).map(_._1).getOrElse(0L)) *
          BigInt(sums.get(j).map(_._1).getOrElse(0L)))
    (n, c)
  }

  def pca(spark: SparkSession, sfDir: String): DataFrame =
    pcaOf(Tables.embeddings(spark, sfDir).select(col("label"), col("embedding")))

  def pcaOf(e: DataFrame): DataFrame = Scope.run { sc =>
    val q = sc.keep(e.select(col("label"),
        transform(col("embedding"), x => floor(x.cast("double") * 1024).cast("long")).as("q")))
    val (n, c) = scatterOf(q)
    val v = powerIterate(c, Rounds).last
    val lambda = rayleigh(c, v)
    val varPc = if (n == 0) BigInt(0) else lambda / (BigInt(n) * BigInt(n))
    val vChk = v.zipWithIndex.map { case (x, i) => x * (i + 1) }.sum
    // v components fit long by construction (|v_i| ≤ 2^20); varPc is the
    // per-unit variance (≤ max q² ≈ 10^6) and the checksum ≤ 64·65·2^20/2
    val vLit = typedlit(v.map(_.toLong).toSeq)
    q.select(col("label"),
        aggregate(zip_with(col("q"), vLit, _ * _), lit(0L), _ + _).as("p"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum("p").as("proj_sum"), min("p").as("proj_min"), max("p").as("proj_max"))
      .withColumn("var_pc", lit(varPc.toLong))
      .withColumn("vec_checksum", lit(vChk.toLong))
      .orderBy("label")
  }
}
