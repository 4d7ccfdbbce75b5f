package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Deterministic scale-up generator for the TESTDATA.md corpus.
  *
  * The driver ships sf0.001/0.01/0.1; the 100 TB design claims need at
  * least one measured decade beyond the bench's sf0.1, so this tool
  * synthesizes a REAL sf1 corpus (~6 M lineitem rows, NOT a duplicated
  * sf0.1) whose schemas, value ranges, categorical frequencies and
  * duplicate seeding match the driver tables (all fitted by inspection of
  * `/root/testdata/sf0.1`, documented per column below). `Tables` reads it
  * unmodified.
  *
  * Every column is a pure function of (table, row id) through a
  * splitmix64 mix, so generation is embarrassingly parallel,
  * partitioning-independent, and rerunning a table yields bit-identical
  * output — the same property lets `lineitem.l_shipdate` derive from its
  * order's `o_orderdate` WITHOUT a generation-time join (the order date is
  * recomputed from the foreign key by the same pure function).
  *
  * Scale posture: the generator itself is the 100 TB pattern — a
  * `spark.range` of ids mapped row-locally, no shuffle anywhere, output
  * partition count chosen so file sizes land near the
  * `files.maxPartitionBytes` sweet spot rather than one giant file per
  * table.
  *
  * One deliberate schema deviation: the driver writes `events.ts` as
  * parquet TIMESTAMP(NANOS), which Spark cannot WRITE (and cannot even
  * read without `nanosAsLong`). We emit the column as plain INT64 epoch
  * nanos — `Tables.events`/`eventsFrom` see the exact same long values
  * through `nanosAsLong=true` either way, so every query and pushed
  * filter behaves identically.
  */
object ScaleGen {

  // ---- deterministic per-row randomness ---------------------------------

  /** splitmix64 finalizer: high-quality 64-bit mix, the standard public
    * construction (Steele et al., "Fast Splittable Pseudorandom Number
    * Generators", OOPSLA'14). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0,1) from (row id, column salt). Salts are string-hashed so
    * adding a column never perturbs the others. */
  private def u(id: Long, salt: String): Double =
    ((mix(mix(id) ^ mix(salt.hashCode.toLong)) >>> 11).toDouble) / (1L << 53).toDouble

  private def pick[T](id: Long, salt: String, xs: IndexedSeq[T]): T =
    xs((u(id, salt) * xs.length).toInt.min(xs.length - 1))

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  /** Standard normal via Box–Muller from two salted uniforms. */
  private def gaussian(id: Long, salt: String): Double = {
    val u1 = math.max(u(id, salt + "/a"), 1e-12)
    val u2 = u(id, salt + "/b")
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // ---- fitted constants (from /root/testdata/sf0.1, see scaladoc) -------

  private val Segments   = IndexedSeq("AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE", "MACHINERY")
  private val PartAdjs   = IndexedSeq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNouns  = IndexedSeq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes  = IndexedSeq("ECONOMY", "LARGE", "STANDARD", "PROMO", "SMALL", "MEDIUM")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses   = IndexedSeq("F", "O", "P")
  private val RetFlags   = IndexedSeq("A", "N", "R")
  private val EventTypes = IndexedSeq("signup", "click", "error", "view", "purchase")
  private val Langs      = IndexedSeq("en", "de", "es", "fr", "zh") // en 40%, rest 15% each
  private val Vocab = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private val OrderEpochDay = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val OrderDays     = 2404L // 1995-01-01 .. 2001-08-01 inclusive
  private val EventStartNs  = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000000L
  private val EventSpanNs   = 30L * 86400L * 1000000000L // fixed 30-day window at every sf

  /** Order date as epoch MILLIS at midnight — pure in the order key so
    * lineitem can derive ship dates join-free. */
  private def orderDateMs(orderKey: Long): Long =
    (OrderEpochDay + (u(orderKey, "o_date") * (OrderDays + 1)).toLong) * 86400000L

  /** Base document text: 8–100 words uniformly from the 30-word vocab
    * (fitted: n_chars 44..577, mean 297; the dense vocabulary is what
    * makes the n-gram queries' Σdf² bound adversarial, so keep it). */
  private def baseText(docId: Long): String = {
    val n  = 8 + (u(docId, "d_len") * 93).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(pick(mix(docId) ^ i.toLong, "d_word", Vocab))
      i += 1
    }
    sb.toString
  }

  // ---- tables ------------------------------------------------------------

  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String, p_size: Int, p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
                         o_orderdate: java.sql.Timestamp, o_orderpriority: String)
  final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
                            l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
                            l_returnflag: String, l_linestatus: String, l_shipdate: java.sql.Timestamp)
  final case class Event(event_id: Long, ts: Long, user_id: Long, event_type: String, value: Double, props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("testdata-sf1")
    val sf     = if (args.length > 1) args(1).toDouble else 1.0
    // optional comma-list of tables (e.g. "documents,embeddings") — a
    // heavy-family-only slice at big sf skips the 6M-row/decade lineitem
    val only   = if (args.length > 2) args(2).split(",").map(_.trim).toSet
                 else Set.empty[String]
    val spark = graft.Session()
    generate(spark, outDir, sf, only)
    spark.stop()
  }

  /** Session-agnostic generation (specs call this on the shared test
    * session; `main` wraps it with its own lifecycle). `only` filters
    * the emitted tables (empty = all). */
  def generate(spark: SparkSession, outDir: String, sf: Double,
               only: Set[String] = Set.empty): Unit = {
    val nCust  = (150000 * sf).toLong
    val nSupp  = (10000 * sf).toLong
    val nPart  = (200000 * sf).toLong
    val nOrder = (1500000 * sf).toLong
    val nLine  = (6000000 * sf).toLong
    val nEvent = (1000000 * sf).toLong
    val nDoc   = (50000 * sf).toLong
    // embeddings grow ~4x per decade in the driver corpus (500 @ sf0.01,
    // 2000 @ sf0.1): n = 500 * (100*sf)^log10(4) — 8000 continues that
    // curve at sf1
    val nEmb   = math.round(500.0 * math.pow(100.0 * sf, math.log10(4.0)))
    val nUser  = (15000 * sf).toLong

    import spark.implicits._

    def write(df: DataFrame, name: String, parts: Int): Unit =
      if (only.nonEmpty && !only.contains(name)) ()
      else {
        df.coalesce(parts).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
        println(s"[scalegen] wrote $name")
      }

    write(spark.createDataset(
      Seq(Region(0, "AFRICA"), Region(1, "AMERICA"), Region(2, "ASIA"), Region(3, "EUROPE"), Region(4, "MIDDLE EAST"))
    ).toDF(), "region", 1)

    write(spark.createDataset(
      (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5))
    ).toDF(), "nation", 1)

    write(spark.range(nCust).map { id =>
      Customer(id, f"Customer#$id%09d", (u(id, "c_nat") * 25).toInt,
        round2(-1000 + u(id, "c_bal") * 11000), pick(id, "c_seg", Segments))
    }.toDF(), "customer", 4)

    write(spark.range(nSupp).map { id =>
      Supplier(id, f"Supplier#$id%09d", (u(id, "s_nat") * 25).toInt,
        round2(-1000 + u(id, "s_bal") * 11000))
    }.toDF(), "supplier", 1)

    write(spark.range(nPart).map { id =>
      Part(id, s"${pick(id, "p_adj", PartAdjs)} ${pick(id, "p_noun", PartNouns)}",
        s"Brand#${1 + (u(id, "p_brand") * 25).toInt}", pick(id, "p_type", PartTypes),
        1 + (u(id, "p_size") * 50).toInt, round2(900.0 + 0.1 * (id % 1000))) // fitted: price cycles every 1000 keys at every sf
    }.toDF(), "part", 4)

    write(spark.range(nOrder).map { id =>
      Order(id, (u(id, "o_cust") * nCust).toLong, pick(id, "o_status", Statuses),
        round2(1000 + u(id, "o_total") * 499000),
        new java.sql.Timestamp(orderDateMs(id)), pick(id, "o_prio", Priorities))
    }.toDF(), "orders", 8)

    write(spark.range(nLine).map { id =>
      val orderKey = (u(id, "l_order") * nOrder).toLong
      val shipMs   = orderDateMs(orderKey) + (1 + (u(id, "l_ship") * 95).toInt) * 86400000L
      Lineitem(orderKey, (u(id, "l_part") * nPart).toLong, (u(id, "l_supp") * nSupp).toLong,
        1 + (u(id, "l_line") * 7).toInt, (1 + (u(id, "l_qty") * 50).toInt).toDouble,
        round2(900 + u(id, "l_price") * 104100), (u(id, "l_disc") * 11).toInt / 100.0,
        (u(id, "l_tax") * 9).toInt / 100.0, pick(id, "l_ret", RetFlags),
        pick(id, "l_stat", IndexedSeq("O", "F")), new java.sql.Timestamp(shipMs))
    }.toDF(), "lineitem", 16)

    // events keep the driver's FIXED 30-day window at every sf — density
    // scales, the clock does not (that is what keeps per-minute cardinality
    // queries growing sub-linearly, exactly as between sf0.01 and sf0.1).
    // ts is monotone in event_id with jittered gaps, like the source data.
    write(spark.range(nEvent).map { id =>
      val ts = EventStartNs + ((id + u(id, "e_jit")) / nEvent.toDouble * EventSpanNs).toLong
      Event(id, ts, (u(id, "e_user") * nUser).toLong, pick(id, "e_type", EventTypes),
        round2(-50.0 * math.log(1.0 - u(id, "e_val"))), // exp(mean 50): fitted avg 49.9 / median 34.8
        s"""{"k": ${(u(id, "e_k") * 100).toInt}}""")
    }.toDF(), "events", 8)

    // duplicate seeding fitted from sf0.1: 0.16% exact copies of a random
    // partner, 5% near-dups = partner text with 1 (rarely 2) literal "dup"
    // tokens spliced in (255 dup tokens over 250 near-dup docs).
    write(spark.range(nDoc).map { id =>
      val role = u(id, "d_role")
      val partner = {
        val p = (u(id, "d_partner") * nDoc).toLong
        if (p == id) (p + 1) % nDoc else p
      }
      val text =
        if (role < 0.0016) baseText(partner)
        else if (role < 0.0516) {
          val ws  = baseText(partner).split(' ').toBuffer
          val ins = if (u(id, "d_nins") < 0.02) 2 else 1
          var k = 0
          while (k < ins) {
            ws.insert((u(mix(id) ^ k.toLong, "d_at") * (ws.length + 1)).toInt, "dup")
            k += 1
          }
          ws.mkString(" ")
        } else baseText(id)
      val lv   = u(id, "d_lang") // en 40%, de/es/fr/zh 15% each
      val lang = if (lv < 0.4) "en" else Langs(1 + (((lv - 0.4) / 0.15).toInt.min(3)))
      Document(id, text, lang, s"src${(u(id, "d_src") * 20).toInt}", text.length.toLong)
    }.toDF(), "documents", 2)

    // embeddings: unit vectors with WEAK label structure (fitted intra-label
    // cosine-to-centroid ~0.07) — centroid weight 0.0705 against unit noise.
    val centroids: Array[Array[Double]] = Array.tabulate(10) { l =>
      val raw  = Array.tabulate(64)(d => gaussian(mix(1000L + l) ^ d.toLong, "emb_cent"))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / norm)
    }
    val bc = spark.sparkContext.broadcast(centroids)
    write(spark.range(nEmb).map { id =>
      val label = (u(id, "v_label") * 10).toInt
      val cent  = bc.value(label)
      val raw   = Array.tabulate(64)(d => 0.0705 * cent(d) + gaussian(mix(id) ^ d.toLong, "emb_noise") / 8.0)
      val norm  = math.sqrt(raw.map(x => x * x).sum)
      Embedding(id, raw.map(x => (x / norm).toFloat), label)
    }.toDF(), "embeddings", 1)

    println(s"[scalegen] done: $outDir (sf=$sf)")
  }
}
