package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs. Every table is drawn on the driver from one
  * `SplittableRandom(seed)` stream per table, so the same seed gives the same
  * rows at any parallelism. Shapes and value domains follow the TPC-H-style
  * tables the registered queries read (`lineitem`, `orders`, `events`,
  * `documents`, `embeddings`); the other TPC-H tables are not read by any
  * query and are not generated.
  */
object Inputs {

  private def rng(seed: Long, table: Int) = new SplittableRandom(seed * 1000003L + table)

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  private val day = 86400000L
  private def date(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * day

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the")

  private def lineitem(seed: Long, n: Int, nOrders: Int): (StructType, IndexedSeq[Row]) = {
    val r = rng(seed, 1)
    val lo = date(1995, 1, 2); val span = (date(2001, 11, 4) - lo) / day
    val rows = (0 until n).map { _ =>
      Row(
        r.nextLong(nOrders.toLong), r.nextLong(math.max(1, n / 30).toLong), r.nextLong(math.max(1, n / 600).toLong),
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, r2(900.0 + r.nextDouble() * 104100.0),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        new Timestamp(lo + r.nextLong(span + 1) * day))
    }
    (StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))), rows)
  }

  private def orders(seed: Long, n: Int): (StructType, IndexedSeq[Row]) = {
    val r = rng(seed, 2)
    val lo = date(1995, 1, 1); val span = (date(2001, 8, 1) - lo) / day
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val rows = (0 until n).map { i =>
      Row(i.toLong, r.nextLong(math.max(1, n / 10).toLong), Seq("F", "O", "P")(r.nextInt(3)),
        r2(1000.0 + r.nextDouble() * 499000.0), new Timestamp(lo + r.nextLong(span + 1) * day),
        prio(r.nextInt(5)))
    }
    (StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))), rows)
  }

  /** Click-stream: increasing microsecond timestamps over 30 days,
    * ~1.5% as many users as events, five event types, a JSON props column. */
  private def events(seed: Long, n: Int): (StructType, IndexedSeq[Row]) = {
    val r = rng(seed, 3)
    val users = math.max(10, n * 3 / 200)
    val meanGapUs = 30.0 * 86400e6 / n
    var ts = date(2024, 1, 1) * 1000L
    val types = Seq("click", "view", "purchase", "signup", "error")
    val rows = (0 until n).map { i =>
      ts += math.max(1L, (-math.log(1.0 - r.nextDouble()) * meanGapUs).toLong)
      val t = new Timestamp(ts / 1000000L * 1000L); t.setNanos(((ts % 1000000L) * 1000L).toInt)
      Row(i.toLong, t, r.nextLong(users.toLong), types(r.nextInt(5)),
        math.max(0.01, r2(-math.log(1.0 - r.nextDouble()) * 50.0)), s"""{"k": ${r.nextInt(100)}}""")
    }
    (StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))), rows)
  }

  /** Web documents over a 30-word vocabulary, 10–99 words each; 5% are
    * near-copies of an earlier document (one word replaced) and 1% exact
    * copies, so the dedup operators have something to find. */
  private def documents(seed: Long, n: Int): (StructType, IndexedSeq[Row]) = {
    val r = rng(seed, 4)
    val langs = Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
      "es", "es", "es", "de", "de", "de", "fr", "fr", "fr")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = (0 until n).map { i =>
      val u = r.nextDouble()
      val text =
        if (i > 10 && u < 0.01) texts(r.nextInt(i))
        else if (i > 10 && u < 0.06) {
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    (StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))), rows)
  }

  /** Unit-norm 64-dimensional float vectors with a 0–9 label. */
  private def embeddings(seed: Long, n: Int): (StructType, IndexedSeq[Row]) = {
    val r = rng(seed, 5)
    def gauss(): Double = {
      var u = 0.0
      while (u == 0.0) u = r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    (StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))), rows)
  }

  /** Writes the five query tables as `<dir>/<name>.parquet`, one file each,
    * with the row counts of TPC-H sf0.001 (the smallest scale the query
    * registry is verified at). */
  def writeQueryTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    val tables = Seq(
      "lineitem" -> lineitem(seed, 6000, 1500),
      "orders" -> orders(seed, 1500),
      "events" -> events(seed, 1000),
      "documents" -> documents(seed, 500),
      "embeddings" -> embeddings(seed, 500))
    tables.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    }
  }
}
