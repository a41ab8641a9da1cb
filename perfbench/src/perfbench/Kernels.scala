package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** The `graft.functions` kernels, timed through their public methods on a
  * workload's own inputs (ns per call, median of five passes). Kernels a
  * workload has no input for (text or vectors) are left out; run.py
  * reports them as not exercised.
  */
object Kernels {
  val M = 8; val Ksub = 16

  def measure(out: java.util.Map[String, Any], texts: IndexedSeq[String],
      vectors: IndexedSeq[Array[Float]]): Unit = {
    def put(k: String, have: Boolean)(v: => Double): Unit =
      if (have) out.put(k, v)

    val utf = texts.map(UTF8String.fromString)
    val shingles = texts.map { t =>
      val w = t.split(" ")
      new GenericArrayData(w.indices.dropRight(2)
        .map(i => UTF8String.fromString(w.slice(i, i + 3).mkString(" ")))
        .toArray[Any])
    }
    put("functions.fast_md5_ns", texts.nonEmpty)(Trace.kernelNs(utf)(FastMd5.hash))
    put("functions.rolling_hash31_ns", texts.nonEmpty)(
      Trace.kernelNs(utf)(RollingHash31.hash))
    put("functions.minhash_sig_ns", texts.nonEmpty)(
      Trace.kernelNs(shingles)(MinHashSig.compute(_, 64)))

    val have = vectors.nonEmpty
    val dims = if (have) vectors.head.length else 0
    val dsub = math.max(1, dims / M)
    val arrs = vectors.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    // Centroids and codebooks cut from the workload's own vectors: the
    // kernels' cost depends on shapes, not on how the model was fitted.
    val cent = vectors.take(16).map(_.map(_.toDouble)).toArray
    lazy val flat = (0 until M).flatMap(mm => (0 until Ksub).flatMap { j =>
      val v = vectors(j % math.max(vectors.size, 1))
      (0 until dsub).map(d => v(mm * dsub + d).toDouble)
    })
    lazy val packed = PqCodes.pack(flat, M, dsub, Ksub)
    put("functions.nearest_centroid_ns", have)(
      Trace.kernelNs(arrs)(NearestCentroid.assign(_, cent, dims)))
    put("functions.pq_codes_ns", have)(
      Trace.kernelNs(arrs)(PqCodes.codes(_, packed, M, dsub, Ksub)))
    put("functions.pq_adc_lut_ns", have)(
      Trace.kernelNs(arrs.take(256))(PqAdcLut.lut(_, packed, M, dsub, Ksub)))
  }
}
