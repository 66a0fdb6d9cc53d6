package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic point-set generators (reference operator R8, SURVEY.md §2.1
  * [P experiments/src/main/scala/...] — uniform sphere/cube generators used
  * by the paper's experiments).
  *
  * Spark-first shape: `spark.range(n)` + deterministic per-id hashing — no
  * driver-side materialization, no `rand()` (which is task-order dependent
  * and would break the determinism protocol). Each coordinate is derived
  * from xxhash64(id, dim, seed) mapped to [0,1), so the same (n, dim, seed)
  * always yields the same distributed dataset, regardless of parallelism.
  */
object Generators {

  private def u01(dim: Int, seed: Long) =
    // xxhash64 -> [0,1): UNSIGNED shift to 53 mantissa bits for an exact
    // double. (An arithmetic shiftright here would keep the sign bit and
    // collapse the range to [0.25, 0.75) after recentering — a bug this
    // replaced: the "uniform" cube only spanned half of each axis.)
    expr(s"shiftrightunsigned(xxhash64(id, ${dim}L, ${seed}L), 11) / 9007199254740992D")

  /** n points uniform in the unit cube [0,1)^dim: (id, vec: array<double>). */
  def uniformCube(spark: SparkSession, n: Long, dim: Int, seed: Long = 42L): DataFrame = {
    val coords = (0 until dim).map(d => u01(d, seed))
    spark.range(n).select(col("id"), array(coords: _*).as("vec"))
  }

  /** n rows with a power-law (zipf-like) key distribution over `keys`
    * distinct keys: key = floor(keys · u^alpha) for hash-uniform u, so the
    * mass concentrates on low keys as alpha grows — at alpha=4, keys=1000,
    * key 0 alone draws (1/1000)^(1/4) ≈ 17.8% of ALL rows. Deterministic
    * (same n/keys/alpha/seed → same dataset at any parallelism); the
    * skewed input of the salting specs.
    * Columns: (id, key, value).
    */
  def zipfKeyed(spark: SparkSession, n: Long, keys: Int, alpha: Double, seed: Long = 42L): DataFrame =
    spark.range(n).select(
      col("id"),
      floor(lit(keys.toDouble) * pow(u01(0, seed), lit(alpha))).cast("long").as("key"),
      u01(1, seed).as("value"))

  /** n points uniform on the unit sphere S^{dim-1}: gaussian coordinates
    * (Box–Muller over two hash-uniforms) normalized to length 1.
    */
  def uniformSphere(spark: SparkSession, n: Long, dim: Int, seed: Long = 42L): DataFrame = {
    val gauss = (0 until dim).map { d =>
      val u1 = u01(2 * d, seed)
      val u2 = u01(2 * d + 1, seed)
      sqrt(lit(-2.0) * log(greatest(u1, lit(1e-300)))) * cos(lit(2.0 * math.Pi) * u2)
    }
    val g = spark.range(n).select(col("id"), array(gauss: _*).as("g"))
    g.select(
      col("id"),
      expr("transform(g, x -> x / sqrt(aggregate(g, 0D, (s, y) -> s + y * y)))").as("vec"))
  }
}
