package graft

import graft.api.OrderedStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Independent reference for the backward as-of join: hash-partition
  * both sides by key, merge the two time-sorted iterators per key with
  * O(1) state — the reference's executor loop, minus its watermark
  * bookkeeping (Spark's sort gives us whole-key iterators). Returns rows
  * as (left fields ++ right payload fields).
  *
  * Test-only: it materializes both sides of a key (`toArray.sortBy`
  * below), so one hot key OOMs at scale where `graft.ts.AsofJoin`'s
  * streaming merge does not. Kept deliberately simple as an oracle. */
object AsofCoGroup {
  def coGrouped(
      left: OrderedStream,
      right: OrderedStream,
      by: String,
      suffix: String = "_right"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    val lt = left.timeCol
    val rt = right.timeCol
    val l = left.df.withColumn("__t", col(lt).cast(DoubleType))
    val r = right.df.withColumn("__t", col(rt).cast(DoubleType))
    val leftCols = left.df.columns.toSeq
    val rightPayload = right.df.columns.toSeq.filterNot(_ == by).map { c =>
      c -> (if (leftCols.contains(c)) c + suffix else c)
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      left.df.schema.fields ++ rightPayload.map { case (in, out) =>
        right.df.schema(in).copy(name = out, nullable = true)
      })
    implicit val rowEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val lIdxT = l.columns.indexOf("__t")
    val rIdxT = r.columns.indexOf("__t")
    val lKeep = leftCols.map(c => l.columns.indexOf(c))
    val rKeep = rightPayload.map { case (in, _) => r.columns.indexOf(in) }
    val keyIdxL = l.columns.indexOf(by)
    val keyIdxR = r.columns.indexOf(by)
    l.groupByKey((row: Row) => String.valueOf(row.get(keyIdxL)))
      .cogroup(r.groupByKey((row: Row) => String.valueOf(row.get(keyIdxR)))) {
        (_: String, lit0: Iterator[Row], rit0: Iterator[Row]) =>
          val lSorted = lit0.toArray.sortBy(_.getDouble(lIdxT))
          val rSorted = rit0.toArray.sortBy(_.getDouble(rIdxT))
          var j = 0
          var lastQuote: Row = null
          lSorted.iterator.map { lrow =>
            val t = lrow.getDouble(lIdxT)
            while (j < rSorted.length && rSorted(j).getDouble(rIdxT) <= t) {
              lastQuote = rSorted(j); j += 1
            }
            val rvals =
              if (lastQuote == null) rKeep.map(_ => null)
              else rKeep.map(lastQuote.get)
            Row.fromSeq(lKeep.map(lrow.get) ++ rvals)
          }
      }
  }
}
