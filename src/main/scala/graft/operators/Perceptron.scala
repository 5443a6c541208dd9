package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.Checkpoints

/** Distributed full-batch perceptron (Rosenblatt 1958; Collins 2002 for
  * the batch/structured use) over INTEGER features — the model-based
  * quality-filter shape of modern LLM data pipelines (GPT-3 appendix A /
  * CCNet train a linear classifier to distill "does this look like the
  * reference corpus" into a cheap scorer), built so training is EXACT:
  * integer features, unit learning rate and long weights mean every
  * round's misclassification-gradient sum is an exact long under any
  * partition order, and the whole training trajectory is a pure function
  * of the data — bit-identical in the DuckDB oracle with no
  * transcendentals anywhere (contrast logistic loss, whose sigmoid would
  * hit the cross-engine exp() ulp gap and whose float gradient sums
  * would be partition-order-dependent).
  *
  * Scale: per round, one narrow scan projection (score each row against
  * the broadcast-as-literals weights) feeding one all-to-one aggregate
  * of k+1 long sums (map-side combined: k+1 longs per partition cross
  * the wire); driver state is the weight vector — k+1 longs, the
  * ivfTrain bounded-state loop shape. T rounds = T passes over the
  * feature frame; cache or checkpoint it upstream when the feature
  * derivation is expensive. Weight magnitudes are bounded by
  * iters × Σ|x| over misclassified rows — longs overflow only past
  * ~9·10¹⁸, document-scale headroom.
  */
object Perceptron {

  /** The exact-arithmetic contract is INTEGER features: a fractional
    * column would be silently truncated by the `cast("long")` and the
    * trained weights would quietly diverge from any oracle using the
    * untruncated values — reject it up front instead. Boolean is not
    * accepted either: make the 0/1 encoding explicit at the call site.
    */
  private def requireIntegral(df: DataFrame, cols: Seq[String]): Unit = {
    val bad = cols.flatMap { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => None
        case t => Some(s"$c: ${t.simpleString}")
      }
    }
    require(bad.isEmpty,
      "perceptron requires integral (byte/short/int/long) feature and " +
        s"label columns — exact-arithmetic contract; got ${bad.mkString(", ")}")
  }

  /** Train `iters` full-batch rounds; returns the weight vector, bias
    * first (the bias rides a constant-1 feature). Rows with a NULL
    * label or NULL feature are dropped (the library's NULL-never-passes
    * contract; a NULL would otherwise poison the long sums silently).
    * `labelCol` must be 0/1. A zero score classifies as 0 (strict
    * `> 0` test, same tie in [[score]] and the oracle).
    */
  def train(df: DataFrame, featureCols: Seq[String], labelCol: String,
      iters: Int): Seq[Long] = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(iters >= 1, s"need iters >= 1, got $iters")
    requireIntegral(df, featureCols :+ labelCol)
    // project to the slim (features, label) long frame FIRST and cut it
    // once: T rounds then scan k+1 longs per row instead of re-deriving
    // features from the source T times (the 10× scale probe measured the
    // unmaterialized loop near-linear in corpus passes). Storage is
    // (k+1)·8 bytes per doc, released before train returns.
    val slim = df.filter(
        (featureCols :+ labelCol).map(col(_).isNotNull).reduce(_ && _))
      .select((featureCols.map(c => col(c).cast("long")) :+
        col(labelCol).cast("long").as(labelCol)): _*)
    Checkpoints.scoped { cuts =>
      val clean = cuts.cut(slim)
      val feats = lit(1L) +: featureCols.map(c => col(c).cast("long"))
      val y = col(labelCol).cast("long")
      var w = Vector.fill(feats.size)(0L)
      var t = 0
      while (t < iters) {
        val s = feats.zip(w).map { case (f, wi) => f * lit(wi) }.reduce(_ + _)
        val pred = when(s > 0, 1L).otherwise(0L)
        val delta = when(y === pred, 0L).otherwise(y * 2L - 1L)
        val sums = clean.select(feats.zipWithIndex.map { case (f, i) =>
          sum(delta * f).as(s"d$i")
        }: _*).head()
        w = w.zipWithIndex.map { case (wi, i) =>
          wi + (if (sums.isNullAt(i)) 0L else sums.getLong(i))
        }
        t += 1
      }
      w
    }
  }

  /** Append exact-long `score` (w·x, bias included) and 0/1 int `pred`
    * for a trained weight vector — one narrow codegen projection, the
    * deployed form of the filter. NULL features yield NULL score and
    * pred 0 (a row the model cannot score does not pass).
    */
  def score(df: DataFrame, featureCols: Seq[String],
      weights: Seq[Long]): DataFrame = {
    require(weights.size == featureCols.size + 1,
      s"need ${featureCols.size + 1} weights (bias first), got ${weights.size}")
    requireIntegral(df, featureCols)
    val feats = lit(1L) +: featureCols.map(c => col(c).cast("long"))
    val s = feats.zip(weights).map { case (f, wi) => f * lit(wi) }.reduce(_ + _)
    df.withColumn("score", s)
      .withColumn("pred", when(col("score") > 0, 1).otherwise(0))
  }
}
