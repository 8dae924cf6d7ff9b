package graftbench

import java.time.{LocalDate, LocalDateTime, LocalTime}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Builds the ten tables the registry queries read, with the
  * schemas and value ranges of the repository's test tables (orders
  * 1995-01-01..2001-08-01, events over January 2024, 5% near-duplicate
  * documents, unit-norm 64-d embeddings). The tables come from a fixed data
  * seed, not the workload seed: the query workloads compare every result
  * against a stored digest, which needs the same inputs on every run. Each
  * table draws from its own split of that seed, so resizing one table leaves
  * the others' rows unchanged. */
object DataGen {
  val DataSeed = 42L

  /** Rows per table: the relational tables at the sf0.001 test scale
    * (neither gated workload reads them, and writing them is set-up time),
    * `events` at sf0.01 so the replay has enough batches; `documents` and
    * `embeddings` are the same at both. */
  val Sizes: Seq[(String, Int)] = Seq("region" -> 5, "nation" -> 25,
    "customer" -> 150, "supplier" -> 10, "part" -> 200, "orders" -> 1500,
    "lineitem" -> 6000, "events" -> 10000, "documents" -> 500,
    "embeddings" -> 500)
  private val n = Sizes.toMap

  val Vocab: IndexedSeq[String] = ("a the data query table row column key value join " +
    "group order sort filter scan hash merge agg window stream batch spark part " +
    "line customer small big fast slow vector").split(' ').toIndexedSeq
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Langs = Seq("en" -> 0.43, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.13, "es" -> 0.15)

  private def round2(d: Double) = math.rint(d * 100) / 100
  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atTime(LocalTime.MIDNIGHT)

  private def f(name: String, t: DataType) = StructField(name, t)

  /** Random text of `words` vocabulary words. */
  def text(r: SplittableRandom, words: Int): String =
    Seq.fill(words)(pick(r, Vocab)).mkString(" ")

  def documents(r: SplittableRandom, count: Int): Seq[Row] = {
    val texts = new Array[String](count)
    (0 until count).map { i =>
      texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else text(r, 8 + r.nextInt(80))
      var u = r.nextDouble()
      val lang = Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def unitVector(r: SplittableRandom, dim: Int): Seq[Float] = {
    val g = Array.fill(dim)({
      // Box-Muller from two uniforms keeps the stream reproducible
      val u1 = 1.0 - r.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    })
    val norm = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / norm).toFloat).toSeq
  }

  val documentsSchema = StructType(Seq(f("doc_id", LongType), f("text", StringType),
    f("lang", StringType), f("source", StringType), f("n_chars", LongType)))

  val eventsSchema = StructType(Seq(f("event_id", LongType),
    f("ts", TimestampNTZType), f("user_id", LongType), f("event_type", StringType),
    f("value", DoubleType), f("props", StringType)))

  /** The `events` rows in `ts` order, event ids following that order. */
  def events(r: SplittableRandom, count: Int): Seq[Row] = {
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    val ts = Array.fill(count)(r.nextLong(spanUs)).sorted
    ts.indices.map { i =>
      Row(i.toLong, start.plusNanos(ts(i) * 1000L), r.nextLong(150),
        pick(r, EventTypes), round2(0.01 + -math.log(1 - r.nextDouble()) * 50),
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  private def tables(): Seq[(String, StructType, Seq[Row])] = {
    val root = new SplittableRandom(DataSeed)
    val Seq(rc, rs, rp, ro, rl, re, rd, rv) = Seq.fill(8)(root.split())
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (s, i) => Row(i, s) }
    val nation = (0 until n("nation")).map(i => Row(i, s"NATION_$i", i % 5))
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customer = (0 until n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
      rc.nextInt(25), round2(-999.99 + rc.nextDouble() * 10999.98), pick(rc, segments)))
    val supplier = (0 until n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
      rs.nextInt(25), round2(-999.99 + rs.nextDouble() * 10999.98)))
    val colors = Seq("red", "blue", "small", "large", "old", "new", "hot", "cold")
    val nouns = Seq("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val part = (0 until n("part")).map(i => Row(i.toLong,
      s"${pick(rp, colors)} ${pick(rp, nouns)}", s"Brand#${1 + rp.nextInt(25)}",
      pick(rp, types), 1 + rp.nextInt(50), round2(900 + (i % 1000) / 10.0)))
    val o0 = LocalDate.of(1995, 1, 1)
    val o1 = LocalDate.of(2001, 8, 1)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until n("orders")).map(i => Row(i.toLong,
      ro.nextLong(n("customer")), pick(ro, Seq("F", "O", "P")),
      round2(1000 + ro.nextDouble() * 499000),
      if (i == 0) o1.atTime(LocalTime.MIDNIGHT) else day(ro, o0, o1), pick(ro, priorities)))
    val lineitem = (0 until n("lineitem")).map(_ => Row(rl.nextLong(n("orders")),
      rl.nextLong(n("part")), rl.nextLong(n("supplier")), 1 + rl.nextInt(7),
      (1 + rl.nextInt(50)).toDouble, round2(900 + rl.nextDouble() * 104100),
      rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")),
      pick(rl, Seq("F", "O")), day(rl, o0.plusDays(1), LocalDate.of(2001, 11, 4))))
    val events = DataGen.events(re, n("events"))
    val documents = DataGen.documents(rd, n("documents"))
    val embeddings = (0 until n("embeddings")).map(i =>
      Row(i.toLong, unitVector(rv, 64), rv.nextInt(10)))
    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))), lineitem),
      ("events", eventsSchema, events),
      ("documents", documentsSchema, documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))), embeddings))
  }

  /** Writes every table as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, dir: String): Unit =
    tables().foreach { case (name, schema, rows) =>
      frame(spark, schema, rows).coalesce(1).write.parquet(s"$dir/$name.parquet")
    }

  def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
