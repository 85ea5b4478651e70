package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, single-threaded input generators. The program under test only
  * ever sees what these produce; the same seed gives the same inputs. */
object Gen {

  /** DynamoDB stream envelopes for a table of `items` ids, plus the
    * generator's own last-writer-wins model of the table they describe.
    *
    * Mix per event: 1 % bad (half corrupt JSON, half an unknown event
    * name), 8 % REMOVE, 10 % INSERT of a fresh id, the rest MODIFY. Keys
    * are skewed: half the non-insert events hit a hot set of 1 % of the
    * ids, the other half are uniform over every id issued so far. */
  final class Cdc(seed: Long, val items: Int) {
    private val rnd = new SplittableRandom(seed)
    /** id -> payload for every live row; starts as the full-load image. */
    val model = new mutable.LongMap[String]()
    (0 until items).foreach(i => model(i.toLong) = s"p$i")
    private var seq = 0L
    private var nextId = items.toLong
    private val hot = Array.fill(math.max(1, items / 100))(rnd.nextLong(items.toLong))
    var badInjected = 0L
    var validEvents = 0L

    private def key(): Long =
      if (rnd.nextInt(2) == 0) hot(rnd.nextInt(hot.length)) else rnd.nextLong(nextId)

    private def image(id: Long, payload: String, s: Long): String =
      s"""{"id":{"N":"$id"},"payload":{"S":"$payload"},"seq":{"N":"$s"}}"""

    private def envelope(event: String, id: Long, imageKey: String, img: String,
                         s: Long): String =
      s"""{"eventName":"$event","dynamodb":{"ApproximateCreationDateTime":""" +
        s"""${1.7e9 + s / 1000.0},"Keys":{"id":{"N":"$id"}},"$imageKey":$img}}"""

    /** One file's worth of envelopes. `probeKey` is the key of the last
      * valid event and `expected` its model value after the batch (None
      * = removed): what a read-back must see once the batch is visible. */
    final case class Batch(lines: Array[String], probeKey: Long, expected: Option[String])

    def batch(m: Int): Batch = {
      val lines = new Array[String](m)
      var probe = -1L
      var i = 0
      while (i < m) {
        seq += 1
        val u = rnd.nextInt(1000)
        lines(i) =
          if (u < 10) {
            badInjected += 1
            val id = key()
            if (u < 5) s"""{"eventName":"MODIFY","dynamodb":{"Keys":{"id":{"N":"$id"}}"""
            else envelope("TTL_SWEEP", id, "NewImage", image(id, s"x$seq", seq), seq)
          } else {
            validEvents += 1
            if (u < 90) {
              val id = key()
              val old = model.getOrElse(id, "gone")
              model.remove(id)
              probe = id
              envelope("REMOVE", id, "OldImage", image(id, old, seq), seq)
            } else {
              val (event, id) =
                if (u < 190) { nextId += 1; ("INSERT", nextId - 1) } else ("MODIFY", key())
              val payload = s"v$seq-${java.lang.Long.toHexString(rnd.nextLong())}"
              model(id) = payload
              probe = id
              envelope(event, id, "NewImage", image(id, payload, seq), seq)
            }
          }
        i += 1
      }
      require(probe >= 0, "a batch needs at least one valid event")
      Batch(lines, probe, model.get(probe))
    }
  }

  private val Words = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(" ")
  private val Langs = Seq("en" -> 44, "zh" -> 15, "de" -> 14, "es" -> 14, "fr" -> 13)

  private def pick[A](rnd: SplittableRandom, weighted: Seq[(A, Int)]): A = {
    var u = rnd.nextInt(weighted.map(_._2).sum)
    weighted.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  /** Bag-of-words documents (10-99 words over a 31-word vocabulary); one
    * in twenty repeats an earlier document with " dup" appended, so the
    * dedup tiers have near-duplicates to find. */
  def documentRows(rnd: SplittableRandom, n: Int): IndexedSeq[Row] = {
    val texts = new mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(Words(rnd.nextInt(Words.length))).mkString(" ")
      texts += text
      Row(i.toLong, text, pick(rnd, Langs), s"src${i % 20}", text.length.toLong)
    }
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Epoch95 = LocalDate.of(1995, 1, 1)

  /** The star-schema tables the query inventory reads (`region nation
    * customer supplier part orders lineitem events documents
    * embeddings`), shaped like the TPC-H-style test data at scale `sf`
    * (sf 0.01 = 60k lineitem rows), one parquet file per table under
    * `dir/<table>.parquet/`. Timestamps are written without a zone, as
    * the test data's are. */
  def writeTables(spark: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    val rnd = new SplittableRandom(seed)
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100.0) / 100.0
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t)

    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val nCust = n(150000)
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        money(-999.99, 9999.99), segments(rnd.nextInt(5)))))
    val nSupp = n(10000)
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        money(-999.99, 9999.99))))
    val nPart = n(200000)
    val adj = Array("blue", "red", "hot", "cold", "old", "new", "small", "large")
    val noun = Array("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "gizmo")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    def retail(p: Long): Double = 900.0 + (p % 1000) / 10.0
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        adj(rnd.nextInt(8)) + " " + noun(rnd.nextInt(8)), s"Brand#${1 + rnd.nextInt(25)}",
        types(rnd.nextInt(6)), 1 + rnd.nextInt(50), retail(i.toLong))))
    val nOrd = n(1500000)
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    def day(from: LocalDate, span: Int): LocalDateTime =
      from.plusDays(rnd.nextInt(span).toLong).atStartOfDay()
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, rnd.nextLong(nCust.toLong),
        Seq("F", "O", "P")(rnd.nextInt(3)), money(1000.0, 500000.0),
        day(Epoch95, 2404), prio(rnd.nextInt(5)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      (0 until 4 * nOrd).map { _ =>
        val p = rnd.nextLong(nPart.toLong)
        val q = (1 + rnd.nextInt(50)).toDouble
        Row(rnd.nextLong(nOrd.toLong), p, rnd.nextLong(nSupp.toLong), 1 + rnd.nextInt(7), q,
          math.round(q * retail(p) * 100.0) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)),
          Seq("O", "F")(rnd.nextInt(2)), day(Epoch95.plusDays(1), 2499))
      })
    val nEv = n(1000000)
    val evTypes = Array("click", "view", "purchase", "signup", "error")
    var clockUs = LocalDate.of(2024, 1, 1).atStartOfDay()
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
      (0 until nEv).map { i =>
        clockUs = clockUs.plusNanos(1000L * rnd.nextLong(1, 500000000L))
        Row(i.toLong, clockUs, rnd.nextLong(150L), evTypes(rnd.nextInt(5)),
          math.max(0.01, math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100.0) / 100.0),
          s"""{"k": ${rnd.nextInt(100)}}""")
      })
    write("documents", documentSchema, documentRows(rnd, n(50000)))
    val nEmb = n(50000)
    val centroids = Array.fill(10, 64)(rnd.nextDouble() * 2 - 1)
    write("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nEmb).map { i =>
        val label = rnd.nextInt(10)
        val v = Array.tabulate(64)(d => centroids(label)(d) * 0.15 + nextGaussian(rnd))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }

  private def nextGaussian(rnd: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - rnd.nextDouble())) *
      math.cos(2.0 * math.Pi * rnd.nextDouble())
}
