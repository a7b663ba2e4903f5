package graft.recall

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The external-model boundary for cascade stages 2/3 (reference DIN /
  * RankNet — `eval_online/main/din.py`, `ranknet.py` — stay external per
  * charter).
  *
  * Contract: candidate rows are scored executor-side in fixed-size batches
  * (the reference's `/infer_batch/` pattern, `serve-system/inference.py:
  * 30-48`) — the model client is opened once per partition, fed
  * `batchSize` rows at a time, and the driver never sees a row. Any
  * transport (HTTP, gRPC, JNI) plugs in as `scoreBatch`.
  */
object ExternalScorer {

  /** Wrap a batch scoring function into a cascade `Scorer`: appends a
    * `score` column. `scoreBatch` receives up to `batchSize` rows and must
    * return one score per row, in order. */
  def batched(batchSize: Int)(scoreBatch: Seq[Row] => Seq[Double]): Cascade.Scorer =
    df => {
      val outSchema = StructType(df.schema.fields :+
        StructField("score", DoubleType, nullable = false))
      val enc = RowEncoder.encoderFor(outSchema)
      df.mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          val scores = scoreBatch(batch)
          require(scores.length == batch.length,
            s"scorer returned ${scores.length} scores for ${batch.length} rows")
          batch.lazyZip(scores).map((r, s) => Row.fromSeq(r.toSeq :+ s))
        }
      }(enc)
    }

}
