package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/** Counter-based randomness: every generated value is a pure function
  * of (seed, stream, index), so one seed gives byte-identical inputs on
  * every run and in any evaluation order, and another seed gives
  * different ones. */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long =
    mix(mix(seed * 0x2545F4914F6CDD1DL + stream) + i)
  /** Uniform in [0, n) from one hash (the sign bit dropped). */
  def below(h: Long, n: Int): Int = ((h >>> 1) % n).toInt
}

final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: java.time.LocalDateTime)

final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Sizes of every generated input.  Fixed across seeds: a seed changes
  * what the inputs hold, never how much of it there is. */
object Sizes {
  // fold_groupby: the reference's two criterion tasks, and the
  // key-shifted TPC-H lineitem / events copies (3 copies each).  At a
  // third of these sizes a pass was mostly per-query overhead whose CPU
  // time kept falling for 30+ passes as the JIT settled; at these, it is
  // flat after the warm-up.
  val task1Rows = 1800000
  val task2Rows = 1800000
  val copies = 3
  val lineitemPerCopy = 120000
  val eventsPerCopy = 60000
  // curation_batch: base corpus x copies with seeded copy tags
  val docsPerCopy = 300
  val docCopies = 6
  // stream_ingest phase A: two TWS drains, this many batches per pass
  val stateKeys = 1000
  val stateBatches = 3
  val stateBatchRows = 5000
  // stream_ingest phase B: curation micro-batches from an empty index,
  // one per pass (at most 7 passes)
  val curationBatches = 7
  val curationBatchDocs = 40
}

/** The seeded input generator.  Tables are written as parquet under
  * `dir`, one directory per table, so the library reads them through
  * its own `Tables` surface and the DuckDB oracle reads the same files. */
final class Inputs(spark: SparkSession, seed: Long, dir: Path) {
  import spark.implicits._
  import Rng._

  val tablesDir: String = dir.resolve("tables").toString

  // ---- fold_groupby: reference tasks -----------------------------------

  /** Row functions of this seed, usable on the driver and in tasks. */
  val rows = new Inputs.Rows(seed)

  def task1: Dataset[(String, Int)] = {
    val r = rows
    spark.range(Sizes.task1Rows).map(i => r.task1Row(i))
  }

  def task2: Dataset[Map[String, Int]] = {
    val r = rows
    spark.range(Sizes.task2Rows).map(i => r.task2Row(i))
  }

  // ---- fold_groupby: key-shifted lineitem / events copies ---------------

  def lineitem: Dataset[LineItem] = {
    val r = rows
    spark.range(Sizes.lineitemPerCopy.toLong * Sizes.copies).map(i => r.lineRow(i))
  }

  def events: Dataset[Event] = {
    val r = rows
    spark.range(Sizes.eventsPerCopy.toLong * Sizes.copies).map(i => r.eventRow(i))
  }

  // ---- curation_batch: documents corpus --------------------------------

  /** Base corpus: documents of 15-100 words over a small vocabulary;
    * every fourth is a near-duplicate of a recent document with 1-3
    * words replaced.  Languages and lengths are stratified (a fixed mix,
    * placed by the seed), so the blocking work of the pair operators is
    * the same for every seed; the words are not.  Returns the docs and
    * the planted near-dup count. */
  def baseDocs: (IndexedSeq[Doc], Int) = {
    val n = Sizes.docsPerCopy
    val words = new Array[Array[String]](n)
    val langs = new Array[String](n)
    val offset = below(at(seed, 24, 0), 86)
    var planted = 0
    var i = 0
    while (i < n) {
      val h = at(seed, 20, i)
      if (i % 4 == 3) {
        val src = i - 1 - below(h, math.min(i, 50))
        val w = words(src).clone()
        val k = 1 + below(mix(h + 1), 3)
        var j = 0
        while (j < k) {
          val hj = at(seed, 21, i * 8L + j)
          w(below(hj, w.length)) = Inputs.Vocab(below(mix(hj), Inputs.Vocab.length))
          j += 1
        }
        words(i) = w; langs(i) = langs(src); planted += 1
      } else {
        val len = 15 + (i * 37 + offset) % 86
        words(i) = Array.tabulate(len)(j =>
          Inputs.Vocab(below(at(seed, 22, i * 128L + j), Inputs.Vocab.length)))
        langs(i) = Inputs.Langs((i + offset) % Inputs.Langs.length)
      }
      i += 1
    }
    val docs = (0 until n).map { i =>
      val text = words(i).mkString(" ")
      Doc(i.toLong, text, langs(i), s"src${below(at(seed, 23, i), 20)}", text.length.toLong)
    }
    (docs, planted)
  }

  /** The gen_sf1 construction: copy c > 0 shifts doc ids by c * base and
    * splices a seeded copy tag after every 5 words, so cross-copy texts
    * stay dissimilar and near-dup pairs scale linearly with copies. */
  def corpus: (IndexedSeq[Doc], Int) = {
    val (base, planted) = baseDocs
    val n = Sizes.docsPerCopy
    val tagSeed = java.lang.Long.toHexString(mix(seed) >>> 44)
    val all = (0 until Sizes.docCopies).flatMap { c =>
      if (c == 0) base
      else base.map { d =>
        val tag = s"t${tagSeed}c$c"
        val text = d.text.split(' ').grouped(5).map(g => (g :+ tag).mkString(" "))
          .mkString(" ")
        d.copy(doc_id = d.doc_id + c.toLong * n, text = text, n_chars = text.length.toLong)
      }
    }
    (all, planted * Sizes.docCopies)
  }

  // ---- stream_ingest feeds ----------------------------------------------

  /** Running-fold feed: batch b, (key, integer-valued value). */
  def foldBatch(b: Int): IndexedSeq[(Long, Double)] = {
    val r = Sizes.stateBatchRows
    (0 until r).map { j =>
      val h = at(seed, 30, b.toLong * r + j)
      (below(h, Sizes.stateKeys).toLong, below(mix(h), 97).toDouble)
    }
  }

  /** Dedup feed: batch b, (key, event time 10 ms apart, value). */
  def dedupBatch(b: Int): IndexedSeq[(Long, java.sql.Timestamp, Double)] = {
    val r = Sizes.stateBatchRows
    (0 until r).map { j =>
      val n = b.toLong * r + j
      val h = at(seed, 31, n)
      (below(h, Sizes.stateKeys).toLong, new java.sql.Timestamp(1700000000000L + n * 10L),
        below(mix(h), 97).toDouble)
    }
  }

  // ---- writing and digests ----------------------------------------------

  def writeTable(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$tablesDir/$name.parquet")

  /** SHA-256 over a table's data files in name order. */
  def digest(name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val d = java.nio.file.Paths.get(s"$tablesDir/$name.parquet")
    val files = Files.list(d)
    try files.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      .foreach(f => md.update(Files.readAllBytes(java.nio.file.Paths.get(f))))
    finally files.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def bytesOf(name: String): Long =
    Trace.walk(java.nio.file.Paths.get(s"$tablesDir/$name.parquet"))._2
}

object Inputs {
  val Labels: Array[String] = Array.tabulate(26)(i => ('A' + i).toChar.toString)
  val Vocab: Array[String] = Array("the", "a", "of", "and", "to", "is", "in",
    "spark", "batch", "part", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer")
  val Langs: Array[String] = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Flags = Array("A", "N", "R")
  private val Status = Array("F", "O")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val ShipBase = java.time.LocalDateTime.of(1995, 1, 2, 0, 0)
  private val EventBase = 1704067200000L // 2024-01-01T00:00:00Z

  /** Row functions shipped to executors (serializable, seed only). */
  final class Rows(seed: Long) extends Serializable {
    import Rng._
    def task1Row(i: Long): (String, Int) = {
      val h = at(seed, 1, i)
      (Labels(below(h, 26)), below(mix(h), 100) + 1)
    }
    def task2Row(i: Long): Map[String, Int] = {
      val l = below(at(seed, 2, i), 100) + 1
      val base = Map("A" -> l, "B" -> l % 47)
      if (l % 2 == 0) base + ("C" -> l % 13) else base
    }
    def lineRow(i: Long): LineItem = {
      val c = i / Sizes.lineitemPerCopy
      val j = i % Sizes.lineitemPerCopy
      val h = at(seed, 3, j)
      val h2 = mix(h); val h3 = mix(h2); val h4 = mix(h3)
      val order = j / 4 + 1 + c * 150000L
      LineItem(order, below(h, 20000) + 1L + c * 20000L, below(h2, 1000) + 1L + c * 1000L,
        (j % 4).toInt + 1, below(h3, 50) + 1.0, (90000 + below(h4, 10410000)) / 100.0,
        below(mix(h4), 11) / 100.0, below(mix(h4 + 1), 9) / 100.0,
        Flags(below(mix(h4 + 2), 3)), Status(below(mix(h4 + 3), 2)),
        ShipBase.plusDays(below(mix(h4 + 4), 2498).toLong))
    }
    def eventRow(i: Long): Event = {
      val c = i / Sizes.eventsPerCopy
      val j = i % Sizes.eventsPerCopy
      val h = at(seed, 4, j)
      val h2 = mix(h); val h3 = mix(h2)
      Event(j + c * 100000L, new java.sql.Timestamp(EventBase + below(h, 2592000) * 1000L),
        below(h2, 1500) + c * 1500L, EventTypes(below(h3, 5)), below(mix(h3), 50000) / 100.0,
        s"""{"k": ${below(mix(h3 + 1), 100)}}""")
    }
  }
}
