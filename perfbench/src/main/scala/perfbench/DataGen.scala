package perfbench

import java.time.{LocalDate, LocalDateTime}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic synthetic corpus in the layout graft's `Tables` reads:
  * one parquet table per name (`<dir>/<name>.parquet`), TPC-H-ish star
  * schema plus the `documents`, `embeddings` and `events` tables.
  *
  * Shapes follow graft's reference test data: documents are 10–99
  * words drawn from a 30-word technical vocabulary plus "a"/"the", with
  * 5% near-duplicates (another document's text plus " dup"); embeddings
  * are unit-length 64-d Gaussian vectors with a label in 0–9; events
  * arrive as a Poisson stream over 30 days. The same seed and sizes
  * always give identical rows (StrictMath, so no JIT intrinsic can
  * change a value).
  *
  * Usage: DataGen <dir> <seed> <documents> <embeddings> <events> <orders>
  */
object DataGen {
  private val vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "sort", "query", "fast", "the")
  private val langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.14,
    "de" -> 0.14, "fr" -> 0.13)

  final case class Sizes(documents: Int, embeddings: Int, events: Int, orders: Int)

  def main(args: Array[String]): Unit = {
    val Array(dir, seed, docs, embs, evs, ords) = args
    val spark = Session.build("perfbench-datagen", 2)
    try generate(spark, dir, seed.toLong, Sizes(docs.toInt, embs.toInt, evs.toInt, ords.toInt))
    finally spark.stop()
  }

  def generate(spark: SparkSession, dir: String, seed: Long, sizes: Sizes): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rng(table: String) = new Random(seed * 31 + table.hashCode)
    def money(r: Random, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

    val nations = 25
    val customers = math.max(10, sizes.orders / 10)
    val parts = math.max(10, (sizes.orders * 2) / 15)
    val suppliers = math.max(5, sizes.orders / 150)

    write("region", StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    write("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until nations).map(i => Row(i, s"NATION_$i", i % 5)))

    val rc = rng("customer")
    val segments = Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    write("customer", StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
      (0 until customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(nations), money(rc, -999.99, 9999.99), segments(rc.nextInt(5)))))

    val rs = rng("supplier")
    write("supplier", StructType(Seq(StructField("s_suppkey", LongType),
      StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
      (0 until suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(nations), money(rs, -999.99, 9999.99))))

    val rp = rng("part")
    val adjectives = Seq("red", "small", "hot", "old", "large", "blue", "cold", "new")
    val nouns = Seq("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    write("part", StructType(Seq(StructField("p_partkey", LongType),
      StructField("p_name", StringType), StructField("p_brand", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
      (0 until parts).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(8))} ${nouns(rp.nextInt(8))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(6)), 1 + rp.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val ro = rng("orders")
    val day0 = LocalDate.of(1995, 1, 1)
    val orderDays = 2403 // 1995-01-01 .. 2001-08-01
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until sizes.orders).map { i =>
      (i.toLong, ro.nextInt(customers).toLong, "POF".charAt(ro.nextInt(3)).toString,
        money(ro, 1000, 500000), day0.plusDays(ro.nextInt(orderDays).toLong),
        priorities(ro.nextInt(5)))
    }
    write("orders", StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
      orders.map { case (k, c, s, p, d, pr) => Row(k, c, s, p, d.atStartOfDay(), pr) })

    val rl = rng("lineitem")
    val lineitems = orders.flatMap { case (ok, _, _, _, od, _) =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        val qty = (1 + rl.nextInt(50)).toDouble
        val pk = rl.nextInt(parts)
        Row(ok, pk.toLong, rl.nextInt(suppliers).toLong, ln, qty,
          math.round(qty * (900.0 + (pk % 1000) / 10.0) * 100 * (0.9 + rl.nextDouble() * 0.2)) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          "ANR".charAt(rl.nextInt(3)).toString, "OF".charAt(rl.nextInt(2)).toString,
          od.plusDays(1L + rl.nextInt(121)).atStartOfDay())
      }
    }
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
      lineitems)

    val rd = rng("documents")
    val texts = Array.fill(sizes.documents) {
      Seq.fill(10 + rd.nextInt(90))(vocab(rd.nextInt(vocab.size))).mkString(" ")
    }
    (0 until sizes.documents / 20).foreach { _ =>
      val i = rd.nextInt(sizes.documents)
      val j = rd.nextInt(sizes.documents)
      if (i != j) texts(i) = texts(j) + " dup"
    }
    def lang(u: Double): String =
      langs.scanLeft(("", 0.0)) { case ((_, acc), (l, p)) => (l, acc + p) }
        .tail.find(_._2 > u).map(_._1).getOrElse("en")
    write("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), lang(rd.nextDouble()),
        s"src${i % 20}", texts(i).length.toLong)))

    val re = rng("embeddings")
    write("embeddings", StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))),
      (0 until sizes.embeddings).map { i =>
        val v = Array.fill(64)(re.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, re.nextInt(10))
      })

    val rv = rng("events")
    val eventTypes = Seq("click", "signup", "error", "view", "purchase")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val meanGapMicros = 30L * 86400L * 1000000L / math.max(1, sizes.events)
    var tsMicros = 0L
    write("events", StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))),
      (0 until sizes.events).map { i =>
        tsMicros += (-StrictMath.log(1 - rv.nextDouble()) * meanGapMicros).toLong
        Row(i.toLong, t0.plusNanos(tsMicros * 1000), rv.nextInt(150).toLong,
          eventTypes(rv.nextInt(5)),
          math.max(0.01, math.round(-StrictMath.log(1 - rv.nextDouble()) * 5000) / 100.0),
          s"""{"k": ${rv.nextInt(100)}}""")
      })
  }
}
