package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.audio.Pcm
import graft.model.AudioClip
import graft.streaming.EventRow
import graft.synth.Synth

/** Seeded input generators. Every value derives from splitmix64 over
  * (seed, row key), so one seed always gives the same inputs; the engine
  * only ever sees the generated tables.
  */
object Gen {

  def hash(seed: Long, key: Long): Long = Synth.mix64(Synth.mix64(seed) ^ key)

  /** Uniform [0,1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  // ==== audio clips ==========================================================

  /** Planted-fault families of the candidate table; each hits exactly one check. */
  val FaultChecks: Map[Int, String] = Map(
    1 -> "codec_fk", 2 -> "dur_ms_range", 3 -> "transcript_equality", 4 -> "pcm_allclose")

  /** A clip table's shape. Row indices run over [offset, offset + rows):
    * the seed shifts the range by whole partitions, so part ids, clip ids
    * and payloads all change with it (`Synth.clipsBucketAligned` always
    * starts at 0).
    */
  final case class ClipSpec(seed: Long, numParts: Int, rowsPerPart: Long,
                            maxAudioMs: Int, buckets: Int, faultRate: Double) {
    val offset: Long = java.lang.Math.floorMod(Synth.mix64(seed), 1000L) * rowsPerPart
    def rows: Long = numParts * rowsPerPart
    def partIds: Seq[String] =
      (0 until numParts).map(k => f"p${offset / rowsPerPart + k}%04d")
    /** 0 = clean, else a key of [[FaultChecks]]. */
    def faultOf(i: Long): Int = {
      val h = hash(seed ^ 0x5eedL, i)
      if (unit(h) < faultRate) 1 + ((h >>> 3) & 3L).toInt else 0
    }
    def clipIdOf(i: Long): String = f"clip_$i%012d"
  }

  def clipAt(spec: ClipSpec, i: Long): AudioClip =
    Synth.clipAt(i, spec.numParts, spec.rowsPerPart, spec.maxAudioMs)

  /** Sample negation: SNR ≈ −6 dB against the original, same length. */
  private def invert(bytes: Array[Byte]): Array[Byte] = {
    val s = Pcm.decode(bytes)
    var k = 0
    while (k < s.length) { s(k) = (-math.max(s(k).toInt, -Short.MaxValue)).toShort; k += 1 }
    Pcm.encode(s)
  }

  def plant(c: AudioClip, fault: Int): AudioClip = fault match {
    case 0 => c
    case 1 => c.copy(codec = "MUTATED")
    case 2 => c.copy(dur_ms = 0)
    case 3 => c.copy(transcript = c.transcript + " planted")
    case 4 => c.copy(bytes = invert(c.bytes))
  }

  /** Reference or candidate clips, already hash-partitioned like a
    * `bucketBy(buckets, part_id, clip_id)` write: only the row index and the
    * keys cross the shuffle, the payload is built after it. The candidate
    * carries ±1-LSB noise on every row (so `pcm_snr` really decodes) plus
    * the planted faults.
    */
  def clips(spark: SparkSession, spec: ClipSpec, candidate: Boolean): Dataset[AudioClip] = {
    import spark.implicits._
    val s = spec
    val keys = spark.range(s.offset, s.offset + s.rows, 1L, s.buckets)
      .map(i => (i, f"p${i / s.rowsPerPart}%04d", s.clipIdOf(i)))
      .toDF("idx", "part_id", "clip_id")
    keys.repartition(s.buckets, col("part_id"), col("clip_id"))
      .as[(Long, String, String)]
      .map { case (i, _, _) =>
        val c = clipAt(s, i)
        if (!candidate) c
        else plant(c.copy(bytes = Synth.lsbNoise(c.bytes)), s.faultOf(i))
      }
  }

  def writeBucketed(ds: Dataset[AudioClip], buckets: Int, table: String, path: String): Unit =
    ds.write.mode("overwrite")
      .bucketBy(buckets, "part_id", "clip_id")
      .sortBy("part_id", "clip_id")
      .option("path", path)
      .saveAsTable(table)

  // ==== events ===============================================================

  val EventTypes: Array[String] = Array("signup", "click", "error", "view", "purchase")
  private val EventEpochMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Events shaped like the driver's `events` table: ids in time order over
    * `days` days, `users` users, five types, values in [0, 500) with a few
    * negatives, props strings of 8–9 chars.
    */
  def eventAt(seed: Long, i: Long, n: Long, users: Int, days: Int): EventRow = {
    val h = hash(seed, i)
    val spanUs = days.toLong * 24 * 3600 * 1000000L
    val tsUs = ((i.toDouble + unit(h)) / n * spanUs).toLong
    val ts = new Timestamp(EventEpochMs + tsUs / 1000)
    ts.setNanos(((tsUs % 1000000L) * 1000L).toInt)
    val h2 = Synth.mix64(h)
    val value = if ((h2 & 0xff) == 0) -round2(unit(h2) * 50) else round2(unit(h2) * 500)
    EventRow(i, ts, 1L + java.lang.Math.floorMod(h, users.toLong),
      EventTypes(((h2 >>> 8) % EventTypes.length).toInt),
      value, s"""{"k": ${(h2 >>> 20) % 100}}""")
  }

  def events(spark: SparkSession, seed: Long, n: Long, users: Int, days: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, 4).map(i => eventAt(seed, i, n, users, days)).toDF()
  }

  // ==== catalog tables =======================================================

  /** Base generator seed of the catalog tables; the workload seed picks the
    * ~90% row subsample, keyed on hash(seed, key).
    */
  private val CatalogBase = 42L
  def keep(seed: Long, key: Long): Boolean = unit(hash(seed ^ 0x5a3b1eL, key)) < 0.9

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words: Array[String] =
    ("a the data spark scan sort hash join merge group agg filter window row " +
      "column table part line order customer key value query batch stream " +
      "vector fast slow big small").split(" ")
  private val Langs = Array("de", "en", "es", "fr", "zh")
  private val Statuses = Array("F", "O", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")
  private val DayMs = 24L * 3600 * 1000
  private val OrderEpochMs = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val OrderDays = 2404 // through 2001-08-01

  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                            c_acctbal: Double, c_mktsegment: String)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                         o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
                            l_discount: Double, l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: Timestamp)
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
                            n_chars: Long)

  private def orderDate(k: Long): Long =
    OrderEpochMs + java.lang.Math.floorMod(hash(CatalogBase + 2, k), OrderDays.toLong) * DayMs

  def customerAt(k: Long): Customer = {
    val h = hash(CatalogBase + 1, k)
    Customer(k, f"Customer#$k%09d", (h % 25).abs.toInt,
      round2(-999.99 + unit(h) * 10999.0), Segments(((h >>> 40) % 5).toInt))
  }

  def orderAt(k: Long, customers: Long): Order = {
    val h = hash(CatalogBase + 3, k)
    Order(k, java.lang.Math.floorMod(h, customers), Statuses(((h >>> 20) % 3).toInt),
      round2(1000.0 + unit(h) * 450000.0), new Timestamp(orderDate(k)),
      Priorities(((h >>> 40) % 5).toInt))
  }

  def lineItemsOf(k: Long): Seq[LineItem] = {
    val n = 1 + (hash(CatalogBase + 4, k) >>> 50) % 7
    (1 to n.toInt).map { j =>
      val h = hash(CatalogBase + 5, k * 8 + j)
      val h2 = Synth.mix64(h)
      LineItem(k, (h >>> 1) % 20000, (h >>> 16) % 1000, j,
        (1 + (h2 >>> 1) % 50).toDouble, round2(900.0 + unit(h) * 104100.0),
        ((h2 >>> 10) % 11) / 100.0, ((h2 >>> 20) % 9) / 100.0,
        ReturnFlags(((h2 >>> 30) % 3).toInt), LineStatuses(((h2 >>> 40) % 2).toInt),
        new Timestamp(orderDate(k) + (1 + (h2 >>> 45) % 120) * DayMs))
    }
  }

  /** Random word sequences; ~5% are near-duplicates of an earlier original
    * with the last word replaced (Jaccard of 3-word shingles ≥ 0.86), the
    * near-duplicate shape of the driver's `documents` table: clusters of
    * two or three, similarity well above the 0.6 threshold.
    */
  def textOf(k: Long): String = {
    val h = hash(CatalogBase + 6, k)
    if (k > 0 && unit(h) < 0.05) {
      val src = randomText(java.lang.Math.floorMod(Synth.mix64(h), k)).split(" ")
      (src.init :+ Words(((Synth.mix64(h) >>> 20) % Words.length).toInt)).mkString(" ")
    } else randomText(k)
  }

  private def randomText(k: Long): String = {
    val n = 15 + (hash(CatalogBase + 6, k) >>> 40) % 56
    (0 until n.toInt).map { w =>
      Words(((hash(CatalogBase + 8, k * 1000 + w) >>> 20) % Words.length).toInt)
    }.mkString(" ")
  }

  def documentAt(k: Long): Document = {
    val h = hash(CatalogBase + 9, k)
    val text = textOf(k)
    Document(k, text, Langs(((h >>> 8) % 5).toInt), s"src${(h >>> 20) % 20}", text.length.toLong)
  }

  /** Writes the catalog tables as `<dir>/<name>.parquet`. */
  def writeCatalog(spark: SparkSession, seed: Long, dir: String, customers: Long,
                   orders: Long, documents: Long): Unit = {
    import spark.implicits._
    def out(ds: Dataset[_], name: String): Unit =
      ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out(spark.range(0L, customers, 1L, 4).filter(k => keep(seed, k)).map(k => customerAt(k)),
      "customer")
    out(spark.range(0L, orders, 1L, 4).filter(k => keep(seed, k)).map(k => orderAt(k, customers)),
      "orders")
    out(spark.range(0L, orders, 1L, 4).filter(k => keep(seed, k)).flatMap(k => lineItemsOf(k)),
      "lineitem")
    out(spark.range(0L, documents, 1L, 4).filter(k => keep(seed, k)).map(k => documentAt(k)),
      "documents")
  }
}
