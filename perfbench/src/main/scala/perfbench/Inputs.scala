package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Seeded inputs. The benchmark writes its own TPC-H-shaped source tables
  * (the columns `graft.kg.Pages` reads) into the run directory and feeds the
  * engine `Pages.corpus` over them, so the engine sees only generated pages.
  * `customers` sets the size: 150 customers gives the row counts of the
  * sf0.001 test tables. The seed decides every foreign key: who lives
  * where, who placed which order, who supplies which part.
  *
  * The tables are drawn in plain Scala, so the counts the bulk check pins
  * ([[Expected]]) are re-derived here from the sentence templates `Pages`
  * writes, independently of the engine's extraction.
  */
final class Inputs(val seed: Long, val customers: Int) {
  private val rnd = new scala.util.Random(seed)
  private def draw(n: Int, bound: Int): Array[Int] = Array.fill(n)(rnd.nextInt(bound))

  val nSupp: Int = math.max(1, customers / 15)
  val nOrders: Int = customers * 10
  val nParts: Int = customers * 4 / 3
  val nationRegion: Array[Int] = draw(25, Inputs.Regions.size)
  val custNation: Array[Int] = draw(customers, 25)
  val custSegment: Array[Int] = draw(customers, Inputs.Segments.size)
  val orderCust: Array[Int] = draw(nOrders, customers)
  val suppNation: Array[Int] = draw(nSupp, 25)
  // lineitem: (partkey, suppkey, linenumber); order keys are not read by Pages
  val lineitems: Array[(Int, Int, Int)] =
    Array.fill(nOrders * 4)((rnd.nextInt(nParts), rnd.nextInt(nSupp), 1 + rnd.nextInt(7)))

  def custName(c: Int): String = f"Customer#$c%09d"
  def suppName(s: Int): String = f"Supplier#$s%09d"
  def nationName(n: Int): String = s"NATION_$n"

  /** Writes the source tables under `dir`, one parquet file each. */
  def write(spark: SparkSession, dir: String): Unit = {
    def save(name: String, cols: Seq[(String, DataType)], rows: Seq[Row]): Unit = {
      val schema = StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(s"$dir/$name.parquet")
    }
    save("region", Seq("r_regionkey" -> LongType, "r_name" -> StringType),
      Inputs.Regions.zipWithIndex.map { case (r, i) => Row(i.toLong, r) })
    save("nation", Seq("n_nationkey" -> LongType, "n_name" -> StringType, "n_regionkey" -> LongType),
      nationRegion.toSeq.zipWithIndex.map { case (r, i) => Row(i.toLong, nationName(i), r.toLong) })
    save("customer", Seq("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> LongType, "c_mktsegment" -> StringType),
      (0 until customers).map(c => Row(c.toLong, custName(c), custNation(c).toLong, Inputs.Segments(custSegment(c)))))
    save("orders", Seq("o_orderkey" -> LongType, "o_custkey" -> LongType),
      orderCust.toSeq.zipWithIndex.map { case (c, o) => Row(o.toLong, c.toLong) })
    save("supplier", Seq("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> LongType),
      (0 until nSupp).map(s => Row(s.toLong, suppName(s), suppNation(s).toLong)))
    save("lineitem", Seq("l_partkey" -> LongType, "l_suppkey" -> LongType, "l_linenumber" -> IntegerType),
      lineitems.toSeq.map { case (p, s, l) => Row(p.toLong, s.toLong, l) })
  }

  /** Url of a customer's main page, as `Pages` names it. */
  def customerUrl(c: Int): String = s"https://example.org/customer/$c"

  /** Facts the pages state, one per sentence: (subject, relation, object). */
  private def facts: Seq[(String, String, String)] = {
    val b = Seq.newBuilder[(String, String, String)]
    for (c <- 0 until customers) {
      b += ((custName(c), "lives_in", nationName(custNation(c))))
      b += ((custName(c), "shops_in_segment", Inputs.Segments(custSegment(c))))
      // the contradiction page of every 7th customer: moved one nation on
      if (c % 7 == 0) b += ((custName(c), "lives_in", nationName((custNation(c) + 1) % 25)))
    }
    for ((c, o) <- orderCust.zipWithIndex) b += ((custName(c), "placed", s"Order#$o"))
    for (s <- 0 until nSupp) {
      b += ((suppName(s), "located_in", nationName(suppNation(s))))
      b += ((nationName(suppNation(s)), "part_of", Inputs.Regions(nationRegion(suppNation(s)))))
    }
    for ((p, s) <- lineitems.collect { case (p, s, 1) => (p, s) }.distinct) b += ((suppName(s), "supplies", s"Part#$p"))
    b.result()
  }

  lazy val expected: Inputs.Expected = {
    val f = facts
    Inputs.Expected(
      pages = customers + (customers + 6) / 7 + nSupp,
      rawTriples = f.size.toLong,
      edges = f.distinct.size.toLong,
      nodes = f.flatMap { case (s, _, o) => Seq(s, o) }.distinct.size.toLong,
    )
  }

  /** The corpus as the engine reads it, url-hash partitioned and
    * materialised so no timed region pays for page synthesis.
    */
  def pages(spark: SparkSession, dir: String): DataFrame =
    graft.kg.Pages.corpus(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("url"))
      .localCheckpoint()
}

object Inputs {
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  final case class Expected(pages: Long, rawTriples: Long, edges: Long, nodes: Long)

  /** Alphabetic tag for fresh entity surfaces: the entity grammar allows
    * letters only between the type word and the `#` key.
    */
  def tag(n: Long): String = {
    val sb = new StringBuilder
    var x = n
    do { sb += ('A' + (x % 26).toInt).toChar; x /= 26 } while (x > 0)
    sb.reverse.toString
  }

  /** `pages` rewritten as fresh episodes: new urls and new Customer /
    * Supplier surfaces (`CustomerINC<tag>#...`), so every write adds new
    * entities next to the shared nations, orders and parts.
    */
  def freshBatch(pages: DataFrame, tag: String): DataFrame =
    pages
      .withColumn(
        "html",
        regexp_replace(col("html").cast("string"), lit("(Customer|Supplier)#"), lit(s"$$1INC$tag#")).cast("binary"),
      )
      .withColumn("url", concat(col("url"), lit(s"?inc=$tag")))
      .localCheckpoint()
}
