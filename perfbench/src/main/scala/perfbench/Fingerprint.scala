package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** An order-insensitive result fingerprint: the row count and the exact
  * sum of one 64-bit hash per row (columns taken in name order, so the
  * fingerprint ignores row order and column order, as the oracle
  * comparison does). */
final case class Fingerprint(rows: Long, hash: String) {
  def json: String = Json.obj("rows" -> rows, "hash" -> hash)
}

object Fingerprint {
  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) =>
      f.dataType match {
        // maps have no hash; their JSON rendering is exact and ordered
        case _: MapType => to_json(struct(col(s"c$i")))
        case _ => col(s"c$i")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = pos.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toString))
  }

  /** Pinned fingerprints: `{"row": {"rows": n, "hash": "h"}, ...}`. */
  def load(path: java.nio.file.Path): Map[String, Fingerprint] = {
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val entry = """"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"(-?\d+)"""".r
    entry.findAllMatchIn(text)
      .map(m => m.group(1) -> Fingerprint(m.group(2).toLong, m.group(3))).toMap
  }
}
