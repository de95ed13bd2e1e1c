package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.Schemas

/** Seeded synthetic inventory source with the reference data's traits
  * (reference: data/walmart_inventory_data.csv): exact duplicate rows,
  * a few null dates, `dim_product` multi-row per `product_id` (a
  * product sells at a few price points), and tracked store attributes
  * that change between arrivals for a third of the stores, so SCD2
  * emits versions.
  *
  * The source arrives in `arrivals` batches with strictly increasing
  * date ranges. Null-date rows exist only in the first batch: the
  * watermark filter `date > last_processed` never admits a null date,
  * so only the initial full extract can carry them.
  *
  * The expected raw/fact row counts and watermarks are known by
  * construction: transaction ids are unique except for planted exact
  * copies, which the generator counts.
  */
final case class InventorySpec(rowsPerArrival: Int, arrivals: Int, daysPerArrival: Int, start: LocalDate)

final case class Arrival(rows: IndexedSeq[Row], dups: Int, nullDates: Int, maxDate: LocalDate)

final case class Inventory(spec: InventorySpec, arrivals: IndexedSeq[Arrival], digest: String) {

  def rowCount: Long = arrivals.map(_.rows.size.toLong).sum

  /** Raw-zone rows after cycle k: the first load keeps the extract as
    * is (duplicates included); every merge after it is a full-row
    * dropDuplicates over history plus increment.
    */
  def expectedRaw(k: Int): Long =
    if (k == 0) arrivals(0).rows.size.toLong
    else arrivals.take(k + 1).map(a => (a.rows.size - a.dups).toLong).sum

  /** fact_sales rows after cycle k: distinct raw rows with a date. */
  def expectedFact(k: Int): Long =
    arrivals.take(k + 1).map(a => (a.rows.size - a.dups - a.nullDates).toLong).sum

  /** Watermark after cycle k: the latest source date seen so far. */
  def expectedWatermark(k: Int): String = arrivals(k).maxDate.toString

  /** Distinct source rows with a date among the first k + 1 arrivals. */
  def datedDistinct(k: Int): IndexedSeq[Row] = {
    val seen = scala.collection.mutable.HashSet[String]()
    arrivals.take(k + 1).flatMap(_.rows)
      .filter(r => !r.isNullAt(1) && seen.add(r.getString(0)))
  }
}

object InventoryGen {

  private val cities = IndexedSeq(
    "New York", "Los Angeles", "Chicago", "Houston", "Phoenix", "Philadelphia",
    "San Antonio", "San Diego", "Dallas", "San Jose", "Austin", "Jacksonville",
    "Fort Worth", "Columbus", "Charlotte", "Seattle", "Denver", "Boston",
    "Miami", "Atlanta")
  private val categories = IndexedSeq(
    "Electronics", "Grocery", "Clothing", "Home", "Toys", "Sports")
  private val Stores = 60
  private val Products = 400
  private val DupRate = 0.01
  private val NullDateRate = 0.001

  private def ts(d: LocalDate): Timestamp =
    Timestamp.from(d.atStartOfDay(ZoneOffset.UTC).toInstant)

  /** Tracked store attributes for (store, epoch), stable per seed. */
  private def storeAttrs(seed: Long, store: Int, epoch: Int): (Int, Int, Double, Double) = {
    val r = new SplittableRandom(seed * 1000003L + store * 7919L + epoch)
    (10 + r.nextInt(90), 1 + r.nextInt(14), r.nextInt(2000) / 100.0, r.nextInt(100) / 100.0)
  }

  def generate(seed: Long, spec: InventorySpec): Inventory = {
    val r = new SplittableRandom(seed)
    val digest = new Digest.Stream
    var txn = 0L
    val arrivals = (0 until spec.arrivals).map { k =>
      val first = spec.start.plusDays(k.toLong * spec.daysPerArrival)
      val rows = new Array[Row](spec.rowsPerArrival)
      var dups = 0
      var nulls = 0
      var maxDate = first
      var i = 0
      while (i < rows.length) {
        if (i > 0 && r.nextDouble() < DupRate) {
          rows(i) = rows(r.nextInt(i))
          dups += 1
        } else {
          val nullDate = k == 0 && r.nextDouble() < NullDateRate * spec.arrivals
          val day = first.plusDays(r.nextInt(spec.daysPerArrival).toLong)
          if (nullDate) nulls += 1
          else if (day.isAfter(maxDate)) maxDate = day
          val store = r.nextInt(Stores)
          val epoch = if (store % 3 == 0) k else 0
          val (reorder, lead, carrying, risk) = storeAttrs(seed, store, epoch)
          val product = r.nextInt(Products)
          val cents = 199 + (product * 37) % 5000 + 25 * r.nextInt(3)
          val qty = 1 + r.nextInt(20)
          txn += 1
          rows(i) = Row(
            f"TXN$txn%09d",
            if (nullDate) null else ts(day),
            f"ST$store%03d",
            cities(store % cities.size),
            f"P$product%04d",
            categories(product % categories.size),
            qty,
            cents / 100.0,
            qty * cents / 100.0,
            if (r.nextDouble() < 0.01) null else Int.box(r.nextInt(500)),
            reorder, lead, carrying, risk,
            if (r.nextDouble() < 0.01) null else Double.box(r.nextInt(1000) / 100.0))
        }
        digest.add(rows(i))
        i += 1
      }
      Arrival(rows.toIndexedSeq, dups, nulls, maxDate)
    }
    Inventory(spec, arrivals, digest.hex)
  }

  val schema: StructType = Schemas.inventory
}

/** Fixed synthetic corpus for the catalog workload: the `documents`
  * and `embeddings` tables the measured queries read, with the shape
  * of the project's test data (30-word vocabulary texts with planted
  * near-duplicates, five languages, unit-norm 64-d embeddings around
  * ten label centroids). It does not depend on the run seed, so its
  * query digests are fixed and recorded in `expected/`.
  */
object CorpusGen {

  val Seed = 20240601L
  val Documents = 500
  val Embeddings = 500

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, dir: String): Unit = {
    def one(rows: Seq[Row], schema: StructType, t: String): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    one(documents(Documents), documentsSchema, "documents")
    one(embeddings(Embeddings), embeddingsSchema, "embeddings")
  }

  /** Writes the corpus to the directory given as the only argument. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    try write(spark, args(0)) finally spark.stop()
  }

  private val vocab = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = IndexedSeq("en", "zh", "es", "fr", "de")

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  def documents(n: Int, seed: Long = Seed): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      texts(i) =
        if (i > 10 && r.nextInt(20) == 0) {
          val words = texts(r.nextInt(i)).split(' ')
          words(r.nextInt(words.length)) = "dup"
          words.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.size))).mkString(" ")
      val u = r.nextDouble()
      val lang = if (u < 0.41) "en" else langs(1 + ((u - 0.41) / 0.1475).toInt.min(3))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
  }

  def embeddings(n: Int, dim: Int = 64, seed: Long = Seed + 1): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed)
    val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(j => centroids(label)(j) + 0.8 * (r.nextDouble() * 2 - 1))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }
}
