package perfbench

import scala.collection.mutable

/** Seeded input generators and the expected-output model for each
  * workload. The model is plain Scala over the generated inputs — it never
  * touches Spark or the pipeline code — so it is an independent oracle for
  * what the sink and the DLQ must hold at the end of a run.
  *
  * Every workload is built so that its expected output does not depend on
  * where micro-batch boundaries fall: duplicates are exact copies, each
  * join key has at most one right-side row, and every event time lies well
  * inside every configured window. */
object Workloads {

  /** SplitMix64 finalizer: a cheap, well-mixed hash of (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, i: Long): Double = (mix(seed, i) >>> 11) * (1.0 / (1L << 53))

  /** 64-bit hash of one sink row: its columns sorted by name, values in a
    * canonical text form. Row order never matters — a table's content is
    * the multiset of these hashes. */
  def rowHash(row: Map[String, Any]): Long = {
    val s = row.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${canon(v)}" }.mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: BigInt => b.toString
    case b: java.math.BigInteger => b.toString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
    case o => o.toString
  }

  /** Number of expected rows missing from `actual` plus unexpected rows in
    * it, as multisets of row hashes. */
  def multisetDiff(expected: Array[Long], actual: Array[Long]): Long = {
    val e = expected.sorted; val a = actual.sorted
    var i = 0; var j = 0; var diff = 0L
    while (i < e.length && j < a.length) {
      if (e(i) == a(j)) { i += 1; j += 1 }
      else if (e(i) < a(j)) { diff += 1; i += 1 }
      else { diff += 1; j += 1 }
    }
    diff + (e.length - i) + (a.length - j)
  }

  /** What a round must leave behind. `rowHashes` is empty when the sink
    * table does not retain rows (the check is then by count). */
  final case class Expected(sinkRows: Long, rowHashes: Array[Long], dlqRows: Long)

  // ------------------------------------------------------------ ingest_drain

  object Ingest {
    val partitions = 4
    /** One in 200 payloads is a truncated frame the ingestor must reject. */
    def malformed(seed: Long, i: Long): Boolean = java.lang.Long.remainderUnsigned(mix(seed, i), 200L) == 0L
    def payload(seed: Long, i: Long): String = {
      val json = graft.WireIngestBench.eventJson(seed * 1000000000L + i)
      if (malformed(seed, i)) json.substring(0, 120) else json
    }
    val fields: Seq[(String, String)] = graft.IngestBench.fields
    val mappings = graft.IngestBench.mappings
    val columns: Seq[(String, String)] = mappings.map(m => m.column -> m.chType)

    def expected(seed: Long, n: Long): Expected = {
      var bad = 0L
      var i = 0L
      while (i < n) { if (malformed(seed, i)) bad += 1; i += 1 }
      Expected(n - bad, Array.empty, bad)
    }
  }

  // ---------------------------------------------------------- stateful_drain

  object Join {
    val partitions = 4
    val orderFields = Seq("order_id" -> "string", "user_id" -> "string",
      "status" -> "string", "amount" -> "float", "sku" -> "string", "qty" -> "int")
    val userFields = Seq("user_id" -> "string", "name" -> "string",
      "country" -> "string", "tier" -> "int")
    val columns = Seq("order_id" -> "String", "user_id" -> "String",
      "amount" -> "Float64", "name" -> "String", "country" -> "LowCardinality(String)")
    private val countries = Array("DE", "FR", "US", "BR", "IN", "JP", "NG", "AU")

    final case class Data(users: IndexedSeq[String], orders: IndexedSeq[String],
                          expected: Expected)

    /** Zipf(s=1.1) rank over [0, n) by inverse-CDF on a precomputed table. */
    final class Zipf(n: Int, s: Double) {
      private val cdf = {
        val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
        val tot = w.sum
        var acc = 0.0
        w.map { x => acc += x / tot; acc }
      }
      def rank(u: Double): Int = {
        val i = java.util.Arrays.binarySearch(cdf, u)
        math.min(if (i >= 0) i else -i - 1, n - 1)
      }
    }

    /** `orders` order events over `users` users (each a narrow ~150 B JSON
      * object): Zipf-skewed user keys, 2% of orders for users that never
      * appear, 10% filtered out by status, 5% exact-copy duplicates on both
      * sides. */
    def generate(seed: Long, users: Int, orders: Int): Data = {
      val s = seed * 7919L
      val userRows = (0 until users).map { k =>
        val c = countries((mix(s, k) & 7).toInt)
        s"""{"user_id":"u$seed-$k","name":"name-$k-${mix(s, k) & 0xffff}","country":"$c","tier":${k % 3}}"""
      }
      val userOut = interleaveDuplicates(s + 1, userRows)
      val zipf = new Zipf(users, 1.1)
      val orderRows = (0 until orders).map { i =>
        val h = mix(s + 2, i)
        val missing = unit(s + 3, i) < 0.02
        val k = if (missing) users + (java.lang.Long.remainderUnsigned(h, 1000L)).toInt
                else zipf.rank(unit(s + 4, i))
        val status = if (unit(s + 5, i) < 0.10) "test" else if ((h & 1) == 0) "paid" else "new"
        val amount = java.lang.Long.remainderUnsigned(h >>> 8, 100000L) / 100.0
        s"""{"order_id":"o$seed-$i","user_id":"u$seed-$k","status":"$status","amount":$amount,"sku":"sku-${h >>> 40 & 0xfff}","qty":${(h >>> 20 & 7) + 1}}"""
      }
      val orderOut = interleaveDuplicates(s + 6, orderRows)
      Data(userOut, orderOut, model(userOut, orderOut))
    }

    /** Expected join output: every order row that passes the filter and
      * whose user exists, duplicates included, joined with that user's only
      * distinct row. A duplicate user row replaces the key's right side
      * with an equal one, so it adds no output. */
    def model(userRows: Seq[String], orderRows: Seq[String]): Expected = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val users = userRows.map { j =>
        val n = m.readTree(j); n.get("user_id").asText -> n }.toMap
      val hashes = mutable.ArrayBuilder.make[Long]
      orderRows.foreach { j =>
        val o = m.readTree(j)
        val id = o.get("order_id").asText
        if (o.get("status").asText != "test")
          users.get(o.get("user_id").asText).foreach { u =>
            hashes += rowHash(Map("order_id" -> id, "user_id" -> o.get("user_id").asText,
              "amount" -> o.get("amount").asDouble, "name" -> u.get("name").asText,
              "country" -> u.get("country").asText))
          }
      }
      val h = hashes.result()
      Expected(h.length, h, 0)
    }
  }

  /** Insert an exact copy of 5% of the rows a short, seeded distance after
    * the original. */
  def interleaveDuplicates(seed: Long, rows: IndexedSeq[String]): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val pending = mutable.TreeMap[Int, List[String]]()
    rows.indices.foreach { i =>
      out += rows(i)
      if (unit(seed, i) < 0.05) {
        val at = i + 1 + java.lang.Long.remainderUnsigned(mix(seed + 1, i), 50L).toInt
        pending(at) = rows(i) :: pending.getOrElse(at, Nil)
      }
      pending.remove(i).foreach(out ++= _.reverse)
    }
    pending.values.foreach(out ++= _.reverse)
    out.toIndexedSeq
  }
}
