package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** Expected output of one query: its row count, and a content hash that
  * is compared only when the query's output is identical run to run. */
final case class Golden(rows: Long, hash: String, deterministic: Boolean)

object Golden {
  implicit val formats: Formats = DefaultFormats

  /** Goldens of one workload from `goldens.json`. */
  def load(path: String, workload: String): Map[String, Golden] =
    (parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8)) \ workload) match {
      case JObject(fields) => fields.map { case (q, v) =>
        q -> Golden((v \ "rows").extract[Long], (v \ "hash").extract[String],
          (v \ "deterministic").extract[Boolean])
      }.toMap
      case _ => Map.empty
    }

  /** Row count and an order-insensitive content hash of a frame: the
    * sum, modulo 2^64, of a 64-bit digest of each row's canonical text
    * (columns in name order, nested values recursively), seeded with
    * the column names and types. */
  def hash(df: DataFrame): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val header = order.map(i => df.schema.fields(i).toString).mkString(",")
    val (rows, sum) = df.rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n, s = 0L
      it.foreach { r =>
        val text = order.map(i => canonical(r.get(i))).mkString("\u0001")
        s += java.nio.ByteBuffer.wrap(md.digest(text.getBytes(UTF_8))).getLong
        n += 1
      }
      Iterator((n, s))
    }.fold((0L, 0L)) { case ((n1, s1), (n2, s2)) => (n1 + n2, s1 + s2) }
    val top = MessageDigest.getInstance("MD5").digest(s"$header|$rows|$sum".getBytes(UTF_8))
    (rows, top.take(8).map(b => f"$b%02x").mkString)
  }

  private def canonical(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0.0" else d.toString
    case f: Float => if (f == 0.0f) "0.0" else f.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "->" + canonical(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }
}
