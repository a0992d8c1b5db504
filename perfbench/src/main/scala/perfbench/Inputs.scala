package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of one benchmark scale. `full` is what the timed runs use;
  * `smoke` is the sf0.001-sized variant the harness's own tests run. */
final case class Scale(
    name: String,
    orders: Int,          // lineitem orders; 1-7 lines each (~4 on average)
    batchesPerCycle: Int, // populate batches between an empty sink and the feed's end
    documents: Int,       // base documents before DocFeed.withDups plants copies
    revisionsPerFold: Int,
    probeDocs: Int,
    probeQueries: Int,
    setupReps: Int,
    warmOps: Int,         // populate operations run before timing
    warmRounds: Int)      // serving fold+probe rounds run before timing

object Scale {
  val Full = Scale("full", orders = 12000, batchesPerCycle = 8, documents = 400,
    revisionsPerFold = 8, probeDocs = 8, probeQueries = 4, setupReps = 3, warmOps = 6, warmRounds = 1)
  val Smoke = Scale("smoke", orders = 1500, batchesPerCycle = 4, documents = 500,
    revisionsPerFold = 4, probeDocs = 4, probeQueries = 2, setupReps = 1, warmOps = 1, warmRounds = 0)

  def apply(name: String): Scale = name match {
    case "full" => Full
    case "smoke" => Smoke
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** Seeded synthetic inputs shaped like the TPC-H-ish fixtures the program
  * is graded on (`lineitem`, `documents`). Everything is a pure function of
  * the seed, so the same seed gives the same inputs. */
object Inputs {

  /** Commit times are `1995-01-01 + (l_orderkey * 8 + l_linenumber)` s
    * (ChangeFeed.lineitemSpec); spacing order keys by this stride spreads
    * the feed over ~14 commit days whatever the row count. */
  private def orderStride(orders: Int): Long = math.max(1L, 150000L / orders)

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(Long.MaxValue))

  /** A `lineitem` table with the fixture's schema and unique
    * `(l_orderkey, l_linenumber)` keys. */
  def lineitem(spark: SparkSession, seed: Long, orders: Int): DataFrame = {
    val stride = orderStride(orders)
    val k = col("l_orderkey")
    val l = col("l_linenumber")
    spark.range(orders)
      .select(
        (col("id") * stride + 1 + pmod(h(seed, 1, col("id")), lit(stride))).as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h(seed, 2, col("id")), lit(7L)) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        k, (h(seed, 3, k, l) % 20000 + 1).as("l_partkey"),
        (h(seed, 4, k, l) % 1000 + 1).as("l_suppkey"), l,
        (h(seed, 5, k, l) % 50 + 1).cast("double").as("l_quantity"),
        ((h(seed, 6, k, l) % 10000000) / 100.0).as("l_extendedprice"),
        ((h(seed, 7, k, l) % 11) / 100.0).as("l_discount"),
        ((h(seed, 8, k, l) % 9) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")), (h(seed, 9, k, l) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (h(seed, 10, k, l) % 2 + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + (h(seed, 11, k, l) % 2500) * 86400L)
          .as("l_shipdate"))
  }

  /** Vocabulary size of the synthetic documents; word `w<i>` is drawn with
    * a linear skew toward small `i`, so common words are shared widely. */
  val Vocabulary = 3000

  /** A `documents` table with the fixture's schema: bag-of-words English-
    * ish text of 20-79 words. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val d = col("doc_id")
    val words = transform(sequence(lit(1), (h(seed, 21, d) % 60 + 20).cast("int")), i =>
      concat(lit("w"), (lit(Vocabulary - 1) -
        floor(sqrt((h(seed, 22, d, i) % (Vocabulary.toLong * Vocabulary)).cast("double"))))
        .cast("long").cast("string")))
    spark.range(n).select(col("id").as("doc_id"))
      .select(d, array_join(words, " ").as("text"),
        element_at(array(lit("en"), lit("es"), lit("de"), lit("zh")),
          (h(seed, 23, d) % 4 + 1).cast("int")).as("lang"),
        concat(lit("src"), (h(seed, 24, d) % 5).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `k` populate window edges (the `toDate` of each batch) from just
    * after `lo` to exactly `hi`: evenly spaced, each jittered by up to
    * 15% of the mean width, so batch widths vary with the seed while every
    * cycle covers the same span and a run's rows stay comparable. */
  def windowEdges(seed: Long, lo: Timestamp, hi: Timestamp, k: Int): Seq[Timestamp] = {
    val rng = new Random(seed * 31 + 7)
    val span = (hi.getTime - lo.getTime).toDouble
    (1 until k).map { i =>
      new Timestamp(lo.getTime + (span * (i + (rng.nextDouble() - 0.5) * 0.3) / k).toLong)
    } :+ hi
  }

  /** A random word of the vocabulary. */
  def word(rng: Random): String = s"w${rng.nextInt(Vocabulary)}"
}
