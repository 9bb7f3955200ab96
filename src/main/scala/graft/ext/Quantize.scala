package graft.ext

import graft.functions.ColFns._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding compression for vector stores — the storage-side prep
  * step of a similarity pipeline: int8 scalar quantization cuts an
  * embedding column to a quarter of its float32 footprint (1/8 of the
  * double form) before it is written/broadcast/shuffled, at a
  * reconstruction error the caller can audit per vector.
  *
  * Everything is a per-row codegen'd HOF chain — zero shuffle, linear
  * scan, embarrassingly parallel.
  */
object Quantize {

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [-127, 127] (all-zero vectors get
    * scale 1 so they quantize to zeros, not NaNs).  Output:
    * (idCol, scale, qvec array<int>, recon_err) with recon_err the
    * L2 distance between the vector and its dequantized form —
    * strict left-to-right sum, so it is bit-replayable by an oracle. */
  def int8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // the vector, its scale and the quantized ints are projected
    // before the lambdas that read them (ColFns' lambda-capture rule):
    // `scale` costs two passes over the vector and would otherwise
    // run again on every element
    val v = col("__v")
    val scale = col("scale")
    val mx = array_max(transform(v, x => abs(x)))
    emb.select(col(idCol), vecD(col(vecCol)).as("__v"))
      .select(col(idCol), v,
        when(mx === 0.0, lit(1.0)).otherwise(mx / 127.0).as("scale"))
      .select(col(idCol), v, scale,
        transform(v, x => round(x / scale).cast("int")).as("qvec"))
      .select(col(idCol), scale, col("qvec"), sqrt(aggregate(
        zip_with(v, col("qvec"), (x, q) => {
          val d = x - q.cast("double") * scale; d * d
        }),
        lit(0.0), (acc, e) => acc + e)).as("recon_err"))
  }
}
