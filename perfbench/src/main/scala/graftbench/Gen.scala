package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generators. Every value is a pure function of
  * (seed, index), so a row can be produced on any thread or executor in
  * any order and the same seed always yields byte-identical inputs.
  */
object Mix {
  /** SplitMix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ (b * 0x632BE59BD9B4E019L))
  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
  /** Seeded Fisher-Yates permutation of 0 until n. */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = java.lang.Long.remainderUnsigned(hash(seed, 0x5eed, i), i + 1L).toInt
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }
}

/** One routing rule as the benchmark's oracle sees it. */
final case class Rule(topic: String, db: String, tableRegex: String, target: String)

/** One generated Debezium envelope plus what the generator intended. */
final case class Envelope(topic: String, key: Array[Byte], value: Array[Byte],
                          op: Char, db: String, table: String, malformed: Boolean)

/** The CDC universe for one seed: Zipf-skewed (topic, db, table)
  * triples, an ordered rule set, and the envelope for any row index.
  *
  * The workload's shape is a function of Zipf rank and the same for
  * every seed: each rank's table family, table number and row width,
  * and which rules cover it. So the forwarded share, the malformed and
  * delete shares and the mean envelope size do not move with the seed.
  * The seed picks the topic and database names and every per-event
  * value: op, key, row contents, timestamps and which events are
  * malformed.
  */
final class CdcGen(val seed: Long) extends Serializable {
  import CdcGen._
  import Mix._

  val topics: IndexedSeq[String] = {
    val base = (hash(seed, 0x70c) >>> 48).toInt
    (0 until 4).map(i => s"cdc-${base + i}")
  }
  private val dbs: IndexedSeq[String] = permutation(seed ^ 0xdb5L, Dbs.length).toIndexedSeq.take(3).map(Dbs)

  /** (topic, db, table) of Zipf rank `r` (rank 0 most frequent). */
  val triples: IndexedSeq[(String, String, String)] =
    (0 until Triples).map(r => (topics(r % 4), dbs((r / 4) % 3), tableName(r)))

  /** Cumulative Zipf(s = 1.1) weights over [[triples]]. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Triples)(r => 1.0 / math.pow(r + 1.0, 1.1))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def tableName(r: Int): String = {
    val n = (r * 7 + 3) % 40
    r % 14 match {
      case 0 | 1 => s"orders_$n"
      case 2 => s"order_items_$n"
      case 3 => "customers"
      case 4 => Seq("payments_eu", "payments_us", "payments_apac")(n % 3)
      case 5 => s"invoice_20${20 + n % 6}_${pad2(1 + n % 12)}"
      case 6 => s"user_sessions_$n"
      case 7 => s"gsms_msg_ticket_sms_${1000 + n}"
      case 8 => s"gsms_msg_frame_0${900 + n}"
      case 9 => "audit_log"
      case 10 => s"inventory.v${n % 4}"
      case 11 => s"inventory_v${n % 4}"
      case 12 => s"tmp_$n"
      case _ => s"refunds_${Seq("eu", "us")(n % 2)}"
    }
  }

  /** 32 ordered rules over the 12 (topic, db) pairs: overlapping pairs
    * whose order decides the target, shadowed rules that can never win,
    * rules whose db or table never occurs, and one catch-all.
    */
  val rules: IndexedSeq[Rule] = {
    def pair(k: Int) = (topics(k % 4), dbs((k / 4) % 3))
    val b = IndexedSeq.newBuilder[Rule]
    var out = 0
    def add(p: (String, String), re: String): Unit = {
      b += Rule(p._1, p._2, re, s"out-${out % 12}"); out += 1
    }
    var k = 0
    while (out < 28) {
      val p = pair(k)
      (k % 7) match {
        case 0 => add(p, "orders_[0-4]$"); add(p, "orders_[0-9]+") // narrow first: order decides
        case 1 => add(p, "payments_.*"); add(p, "payments_eu")    // broad first: 2nd shadowed
        case 2 => add(p, "^(customers|audit_log)$")
        case 3 => add(p, "invoice_20(2[0-3])_0[1-6]"); add(p, "invoice_")
        case 4 => add(p, "gsms_msg_ticket_sms_[0-9]+")
        case 5 => add(p, "inventory\\.v[0-9]"); add(p, "user_sessions_[1-3][0-9]")
        case _ => add(p, "(refunds|order_items)_(eu|[0-9]*7)$")
      }
      k += 1
    }
    val fixed = Seq(
      Rule(topics(0), "no_such_db", "orders_[0-9]+", "out-1"), // db never occurs
      Rule(pair(1)._1, pair(1)._2, "^zz_never_[0-9]+$", "out-2"), // table never occurs
      Rule(pair(2)._1, pair(2)._2, ".", "out-3"),               // catch-all for one pair
      Rule(pair(0)._1, pair(0)._2, "orders_[0-4]$", "out-4"))   // repeats an earlier rule: shadowed
    b.result().take(28) ++ fixed
  }

  /** The rules as a graft pipeline YAML document. */
  def yaml: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val sb = new StringBuilder
    sb ++= "kafka:\n  bootstrap_servers: localhost:9092\n  group: graft-bench\n"
    sb ++= topics.map(q).mkString("  bindings: [", ", ", "]\n")
    sb ++= "transforms:\n"
    rules.foreach { r =>
      sb ++= s"  - source_topic: ${q(r.topic)}\n    db: ${q(r.db)}\n" +
        s"    table: ${q(r.tableRegex)}\n    target_topic: ${q(r.target)}\n"
    }
    sb.result()
  }

  /** Zipf rank of the triple for row `i`. */
  def tripleRank(i: Long): Int = {
    val u = unit(hash(seed, i, 1))
    val r = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (r >= 0) r else -r - 1, triples.length - 1)
  }

  def envelope(i: Long): Envelope = {
    val h = hash(seed, i, 2)
    val rank = tripleRank(i)
    val (topic, db, table) = triples(rank)
    val u = unit(h)
    val op = if (u < 0.35) 'c' else if (u < 0.77) 'u' else if (u < 0.87) 'd' else 'r'
    val schema = tableSchema(rank)
    val id = (hash(seed, i, 3) >>> 24) % 10000000L
    val before = if (op == 'u' || op == 'd') rowImage(schema, id, hash(seed, i, 4)) else "null"
    val after = if (op != 'd') rowImage(schema, id, hash(seed, i, 5)) else "null"
    val ts = 1700000000000L + i
    val sb = new StringBuilder(256 + before.length + after.length)
    sb ++= "{\"before\":" ++= before ++= ",\"after\":" ++= after
    sb ++= ",\"source\":{\"version\":\"2.7.0.Final\",\"connector\":\"mysql\",\"name\":\""
    sb ++= topic ++= "\",\"ts_ms\":" ++= (ts - 17).toString
    sb ++= ",\"snapshot\":\"" ++= (if (op == 'r') "true" else "false")
    sb ++= "\",\"db\":\"" ++= db ++= "\",\"sequence\":null,\"table\":\"" ++= table
    sb ++= "\",\"server_id\":223344,\"gtid\":null,\"file\":\"mysql-bin.000"
    sb ++= (100 + (i >>> 20) % 800).toString ++= "\",\"pos\":" ++= ((h >>> 30) & 0xffffff).toString
    sb ++= ",\"row\":0,\"thread\":" ++= (h & 63).toString ++= ",\"query\":null}"
    sb ++= ",\"op\":\"" += op ++= "\",\"ts_ms\":" ++= ts.toString ++= ",\"transaction\":null}"
    val value = sb.result().getBytes(UTF_8)
    val key = s"""{"id":$id}""".getBytes(UTF_8)
    val mh = hash(seed, i, 6)
    if (unit(mh) < MalformedShare) Envelope(topic, key, corrupt(value, mh), op, db, table, malformed = true)
    else Envelope(topic, key, value, op, db, table, malformed = false)
  }

  /** Column layout of Zipf rank `r`: 3 to 45 columns, skewed to the
    * narrow end, so row images range from ~100 B to ~2 KB.
    */
  private def tableSchema(r: Int): Array[Int] = {
    val u = (r * 0.6180339887498949) % 1.0
    val n = 3 + (42 * u * u * u).toInt
    Array.tabulate(n)(j => ((mix(r * 64L + j) >>> 40) % ColKinds).toInt)
  }

  private def rowImage(schema: Array[Int], id: Long, h0: Long): String = {
    val sb = new StringBuilder(schema.length * 40)
    sb ++= "{\"id\":" ++= id.toString
    var j = 0
    while (j < schema.length) {
      val h = mix(h0 + j)
      sb ++= ",\"" ++= ColNames(j % ColNames.length)
      if (j >= ColNames.length) sb ++= "_" ++= (j / ColNames.length).toString
      sb ++= "\":"
      schema(j) match {
        case 0 => sb ++= ((h >>> 40) - (1L << 22)).toString
        case 1 => sb += '"' ++= Words((h & 31).toInt) += '-' ++= ((h >>> 8) & 0xfffff).toString += '"'
        case 2 => val c = (h >>> 30) % 1000000; sb ++= (c / 100).toString += '.' ++= pad2(c % 100)
        case 3 => sb ++= (if ((h & 1) == 0) "true" else "false")
        case 4 => sb ++= "null"
        case 5 => // free text, sometimes with escapes and non-ASCII
          sb += '"'
          var w = 0
          val nw = 3 + ((h >>> 5) % 12).toInt
          while (w < nw) {
            if (w > 0) sb += ' '
            sb ++= Words(((h >>> (w * 3)) & 31).toInt)
            w += 1
          }
          ((h >>> 50) % 8).toInt match {
            case 0 => sb ++= " \\\"quoted\\\""
            case 1 => sb ++= " café \\u00e9t\\u00e9"
            case 2 => sb ++= "\\nline\\ttab\\\\"
            case _ =>
          }
          sb += '"'
        case 6 => sb ++= "1.5e" ++= ((h >>> 60) + 1).toString
        case 7 => sb ++= "{\"k\":" ++= ((h >>> 48) & 0xff).toString ++= ",\"tags\":[\"" ++=
          Words((h & 31).toInt) ++= "\",null]}"
        case _ => sb += '"' ++= s"20${20 + (h & 7)}-0${1 + ((h >>> 3) & 7)}-1${(h >>> 6) & 7}T10:00:00Z" += '"'
      }
      j += 1
    }
    sb += '}'
    sb.result()
  }

  /** A value that is NOT one complete JSON object, in five shapes. */
  private def corrupt(value: Array[Byte], h: Long): Array[Byte] =
    ((h >>> 40) % 5).toInt match {
      case 0 => java.util.Arrays.copyOf(value, 1 + ((h >>> 8) % (value.length - 1)).toInt)
      case 1 => ("[" + new String(value, UTF_8) + "]").getBytes(UTF_8)
      case 2 => (new String(value, UTF_8) + "x").getBytes(UTF_8)
      case 3 => Array.tabulate(64)(j => (1 + (mix(h + j) & 0x7e)).toByte)
      case _ => Array.emptyByteArray
    }
}

object CdcGen {
  val Triples = 240
  private def pad2(n: Long): String = if (n < 10) "0" + n else n.toString
  val MalformedShare = 0.005
  private val Dbs = Array("shop", "billing", "crm", "ledger", "auth", "geo", "audit", "media")
  private val ColNames = Array("customer_id", "status", "amount", "currency", "note",
    "created_at", "updated_at", "sku", "qty", "price", "email", "country")
  private val ColKinds = 9
  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa", "quebec",
    "romeo", "sierra", "tango", "uniform", "victor", "whiskey", "xray", "yankee", "zulu",
    "order", "ship", "pay", "refund", "cancel", "hold")
}

/** Training inputs shaped like the `documents` and `embeddings`
  * fixture tables: doc_id/text/lang/source/n_chars and
  * vec_id/embedding(64 floats)/label.
  */
object TrainGen {
  import Mix._

  val Vocab: Array[String] = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "vector", "index", "shard",
    "the", "a", "of", "and", "to", "in", "dup")
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  final case class Doc(docId: Long, text: String, lang: String, source: String, nChars: Long)

  /** `n` base documents plus ~`dupShare`·n injected near-duplicates
    * (one token of a base document replaced), in a seed-permuted order.
    */
  def documents(seed: Long, n: Int, dupShare: Double): IndexedSeq[Doc] = {
    val base = (0 until n).map { i =>
      val h = hash(seed, i, 10)
      val len = 8 + ((h >>> 20) % 100).toInt
      val toks = Array.tabulate(len) { j =>
        val t = hash(seed, i, 1000L + j)
        if (unit(t) < 0.08) Vocab(28 + ((t >>> 8) % 6).toInt)
        else Vocab(((t >>> 16) % 28).toInt)
      }
      val blocked = unit(hash(seed, i, 11)) < 0.03
      if (blocked) toks((h >>> 8).toInt.abs % len) = "dup"
      val text = toks.mkString(" ")
      Doc(i.toLong, text, Langs(((h >>> 4) % Langs.length).toInt), s"src${h & 7}", text.length.toLong)
    }
    val picks = permutation(seed ^ 0xd0c5L, n).take((n * dupShare).toInt)
    val dups = picks.zipWithIndex.map { case (orig, k) =>
      val d = base(orig)
      val toks = d.text.split(" ")
      val j = (hash(seed, orig, 12) >>> 8).toInt.abs % toks.length
      toks(j) = if (toks(j) == "value") "scan" else "value"
      val text = toks.mkString(" ")
      Doc(n.toLong + k, text, d.lang, d.source, text.length.toLong)
    }
    val all = base ++ dups
    val order = permutation(seed ^ 0x0dd5L, all.length)
    order.toIndexedSeq.map(all)
  }

  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  /** `n` 64-dim vectors around `centres` seeded centres (the label), in a
    * seed-permuted order.
    */
  def embeddings(seed: Long, n: Int, dim: Int = 64, centres: Int = 10): IndexedSeq[Vec] = {
    val at = Array.tabulate(centres, dim)((c, d) => (unit(hash(seed, c, 20000L + d)) - 0.5) * 0.6)
    val rows = (0 until n).map { i =>
      val c = ((hash(seed, i, 21) >>> 8) % centres).toInt
      val rnd = new java.util.SplittableRandom(hash(seed, i, 22))
      Vec(i.toLong, Array.tabulate(dim)(d => (at(c)(d) + rnd.nextGaussian() * 0.1).toFloat), c)
    }
    permutation(seed ^ 0xe3bL, n).toIndexedSeq.map(rows)
  }
}
