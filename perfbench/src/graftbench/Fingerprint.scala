package graftbench

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

/** Order-insensitive output fingerprint: row count plus two 32-bit halves
  * of the summed per-row xxhash64 over the columns in name order. Top-level
  * doubles are rounded to 6 decimals first, so a last-bit difference in a
  * floating sum is not a mismatch. The aggregates ride the timed `noop`
  * write as a `CollectMetrics` node (no extra job); the comparison happens
  * after the timer stops. */
object Fingerprint {
  private def field(df: DataFrame, name: String): Column = {
    val c = df.col("`" + name.replace("`", "``") + "`")
    df.schema(name).dataType match {
      case DoubleType | FloatType => round(c, 6)
      case _: MapType => c.cast("string")
      case _ => c
    }
  }

  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val h = xxhash64(df.columns.sorted.toIndexedSeq.map(field(df, _)): _*)
    df.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  /** The fingerprint once the observed action has finished. */
  def read(obs: Observation): String = {
    val row = Await.result(obs.future, 60.seconds)
    def num(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    s"${num(0)}:${num(1)}:${num(2)}"
  }
}
