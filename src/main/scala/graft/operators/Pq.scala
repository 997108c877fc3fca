package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the compressed-vector half of the IVF-PQ
  * index that makes billion-vector ANN fit a cluster: each `dim`-dim
  * vector is cut into `m` subvectors and each subvector replaced by the
  * id of its nearest codeword, so a vector stores as `m` small ints.
  *
  * Knob growth rules (the scale contract, spec-pinned in ScaleSpec):
  *  - `m` (subspaces): dim/m stays 4–16; more subspaces = finer
  *    codes, linearly more encode work, code bytes = m.
  *  - `codeK` (codewords per subspace): 16 here is a fixture size —
  *    production PQ uses 256 so each code is exactly ONE BYTE. The
  *    codebook is m·codeK rows of dim/m floats (256·8 rows at
  *    production size — trivially broadcastable), so growing codeK
  *    changes NO plan shape: the same broadcast + per-(vec, subspace)
  *    argmin aggregate, just a wider broadcast list.
  *  - IVF_K (the partner knob in [[Knn]]): grow ~√n so cells stay
  *    O(√n); it is an ARGUMENT (the centroid relation) everywhere.
  *  - LSH tables/planes ([[Knn.lshTopK]]): L = recall lever,
  *    p ≈ log2(n / wanted bucket size); both are arguments.
  *
  * The codebook here is the deterministic first-`codeK`-vectors
  * stand-in (same fixture convention as the IVF centroid sample; real
  * training would Lloyd-iterate per subspace exactly like
  * [[Knn.kmeansRefine]]). Scale shape: codebook broadcast; encode is a
  * per-row subspace explode + argmin aggregate keyed by
  * (vec, subspace) — linear in vectors, never pairwise.
  */
object Pq {

  /** (vec_id, j, sl): the dim/m-dim double-cast subvector of each of
    * the `m` subspaces, one row per (vector, subspace).
    */
  def subRows(df: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"pq: m=$m must divide dim=$dim")
    val sub = dim / m
    df.select(col("vec_id"),
      explode(array((0 until m).map { j =>
        struct(lit(j.toLong).as("j"),
          transform(slice(col("embedding"), j * sub + 1, sub),
            v => v.cast("double")).as("sl"))
      }: _*)).as("js"))
      .select(col("vec_id"), col("js.j").as("j"), col("js.sl").as("sl"))
  }

  /** (c, j, csl): per-subspace codebook from the deterministic
    * first-`codeK`-vectors sample — m·codeK tiny rows, broadcast-sized
    * at any production codeK.
    */
  def codebook(emb: DataFrame, codeK: Int, m: Int, dim: Int): DataFrame =
    subRows(emb.where(col("vec_id") < codeK), m, dim)
      .select(col("vec_id").as("c"), col("j"), col("sl").as("csl"))

  /** Squared L2 between two equal-length double arrays, summed in
    * element order (the order a serial SQL replay sums in) — the
    * codegen'd [[graft.expressions.FloatL2sq]] native (bit-identical to
    * the zip_with+aggregate HOF it replaces, whose per-pair array
    * allocation was the recall joins' inner loop).
    */
  def l2sq(a: Column, b: Column): Column = graft.expressions.FloatL2sq.call(a, b)

  /** PQ encode against `cents` (a [[codebook]]): (vec_id, j, code, bd2)
    * — argmin codeword per (vector, subspace); codeword ids are unique
    * per subspace so the (d2, c) struct ordering is total and ties go
    * to the smaller id. bd2 sums to the reconstruction error, the
    * index-quality metric you'd tune m/codeK by.
    */
  def encode(emb: DataFrame, cents: DataFrame, m: Int, dim: Int): DataFrame =
    subRows(emb, m, dim).join(broadcast(cents), "j")
      .withColumn("d2", l2sq(col("sl"), col("csl")))
      .groupBy("vec_id", "j")
      .agg(min_by(struct(col("c"), col("d2")), struct(col("d2"), col("c"))).as("b"))
      .select(col("vec_id"), col("j"), col("b.c").as("code"), col("b.d2").as("bd2"))
}
