package graft.functions

import graft.expressions.FloatDot
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.util.Random

/** Vector primitives over `array<float>` embedding columns, written with
  * higher-order built-ins (codegen'd, no UDFs). All arithmetic is widened
  * to double ELEMENT-WISE in a FIXED left-to-right order so the DuckDB
  * oracle can reproduce results bit-for-bit: `sum_i cast(a[i])·cast(b[i])`
  * with sequential accumulation matches an identical SQL expression.
  */
object Vectors {

  // the HOF (aggregate-over-transform) formulations this native
  // replaced were CodegenFallback expressions: ONE per-row norm or
  // bucket dot dropped the whole enclosing projection stage out of
  // whole-stage codegen. graft_dot is bit-identical (same index order,
  // same element-wise double widening, acc += x*y — no FMA on either
  // path).

  /** Dot product with index-driven sequential accumulation (1-based).
    * `dim` is the contract (both arrays are exactly dim-wide; every
    * caller passes fixed-width embeddings or plane literals). */
  def dot(a: Column, b: Column, dim: Int): Column = FloatDot.call(a, b)

  /** Squared L2 norm, same accumulation discipline. */
  def normSq(a: Column, dim: Int): Column = FloatDot.call(a, a)

  def norm(a: Column, dim: Int): Column = sqrt(normSq(a, dim))

  /** Cosine similarity as dot / (|a|·|b|) — single division, fixed order. */
  def cosine(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (norm(a, dim) * norm(b, dim))

  /** Cosine of the vector columns `a` and `b` from their precomputed norm
    * columns: `try_divide(graft_dot(a, b), normA * normB)`, NULL where a
    * norm is 0.
    */
  def cosineByNorms(a: String, b: String, normA: String, normB: String): Column =
    try_divide(FloatDot.call(col(a), col(b)), col(normA) * col(normB))

  /** Deterministic random hyperplanes for sign-LSH: `nPlanes` rows of ±1,
    * seeded so Scala-side code and spliced oracle SQL share the exact
    * same constants.
    */
  def signPlanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** Sign-LSH bucket id: bit j set iff dot(v, plane_j) > 0. Collapses each
    * vector to a small int key — the scale path for ANN: bucket-join
    * instead of the O(n²) cross join.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Double]], dim: Int): Column =
    planes.zipWithIndex.map { case (plane, j) =>
      val planeLit = array(plane.map(lit): _*)
      when(dot(v, planeLit, dim) > 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** L independent plane tables for multi-table LSH: table t is seeded
    * `baseSeed + t`, so Scala code and spliced oracle SQL agree on every
    * constant. Multi-table is the recall lever — a near pair is missed
    * only if every table splits it.
    */
  def signPlaneTables(nTables: Int, nPlanes: Int, dim: Int,
                      baseSeed: Long = 42L): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map(t => signPlanes(nPlanes, dim, baseSeed + t))

  /** SQL literal for a plane, for splicing into oracle queries. */
  def planeSqlLiteral(plane: Seq[Double]): String =
    plane.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
}
