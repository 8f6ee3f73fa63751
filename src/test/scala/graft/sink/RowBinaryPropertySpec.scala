package graft.sink

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping

/** Wire property for the Native INSERT leg: 200 seeded-random rows over
  * 22 column types go through the sink's mapper and Native encoder to the
  * fixture, whose own block reader decodes them; every stored value must
  * equal a store-form model computed here straight from the generated
  * values (no encoder or decoder of the repo's in the loop). The suite
  * keeps its name from the RowBinary per-value layout Native's scalar
  * columns use. */
class RowBinaryPropertySpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq(
    "id" -> "Int64", "s" -> "String", "fs" -> "FixedString(8)",
    "b" -> "Bool", "i32" -> "Int32", "u16" -> "UInt16",
    "f32" -> "Float32", "f64" -> "Float64",
    "e" -> "Enum8('alpha' = 1, 'beta' = 2, 'gamma' = 3)",
    "uid" -> "UUID", "dt" -> "DateTime", "dt64" -> "DateTime64(6)",
    "lc" -> "LowCardinality(String)", "ns" -> "Nullable(String)",
    "m" -> "Map(String, String)", "arr" -> "Array(Int64)",
    "dec" -> "Decimal(12, 3)", "day" -> "Date", "day32" -> "Date32",
    "tup" -> "Tuple(a String, n Int32)", "ip4" -> "IPv4", "ip6" -> "IPv6")

  private val mappings = schema.map { case (n, t) => ColumnMapping(n, n, t) }

  private def randomRows(r: Random, n: Int) = (0 until n).map { i =>
    def str(max: Int) = {
      val len = r.nextInt(max)
      // printable unicode incl. multi-byte; no trailing NUL ambiguity
      (0 until len).map(_ => r.nextInt(3) match {
        case 0 => ('a' + r.nextInt(26)).toChar
        case 1 => ('α' + r.nextInt(24)).toChar
        case _ => "日本語テスト©π".charAt(r.nextInt(8))
      }).mkString
    }
    def ascii(maxBytes: Int) =
      (0 until r.nextInt(maxBytes + 1)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    (
      i.toLong,
      str(40),
      ascii(8),
      r.nextBoolean(),
      r.nextInt(),
      r.nextInt(65536),
      // Float32: exactly-representable grid so the JSON text round-trip
      // and the bit-level binary round-trip agree to the last digit
      (r.nextInt(4001) - 2000).toFloat / 4.0f,
      r.nextDouble() * 1e9 - 5e8,
      Seq("alpha", "beta", "gamma")(r.nextInt(3)),
      new java.util.UUID(r.nextLong(), r.nextLong()).toString,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        math.abs(r.nextLong()) % 4102444800L)), // 1970..2100
      { val t = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          math.abs(r.nextLong()) % 4102444800L))
        t.setNanos(r.nextInt(1000000) * 1000); t }, // micros precision
      Seq("red", "green", "blue")(r.nextInt(3)),
      if (r.nextBoolean()) null else str(10),
      (0 until r.nextInt(4)).map(k => s"k$k" -> str(6)).toMap,
      (0 until r.nextInt(5)).map(_ => r.nextLong()): Seq[Long],
      // Decimal(12,3): 9 integral digits max, already at the target scale
      // so neither leg rounds
      BigDecimal(r.nextLong() % 1000000000000L, 3),
      // Date: u16 day domain; Date32: [1900-01-01, 2299-12-31]
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(r.nextInt(65536).toLong)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
        -25567L + r.nextInt(146097))),
      (str(12), r.nextInt()), // Tuple(a String, n Int32): positional struct
      s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}",
      // sprinkle zero groups so '::' compression paths get exercised; the
      // canonical store form is RFC 5952 regardless of the input spelling
      (0 until 8).map(_ => if (r.nextInt(3) == 0) "0"
        else Integer.toHexString(r.nextInt(65536))).mkString(":")
    )
  }

  private val columns = schema.map(_._1)

  /** RFC 5952 text of an 8-group IPv6 literal: lower-case, no leading
    * zeros, the longest run (>= 2, first on a tie) of zero groups as `::`. */
  private def ipv6Text(s: String): String = {
    val g = s.split(":").map(x => Integer.parseInt(x, 16))
    var best = -1
    var bestLen = 1
    var i = 0
    while (i < 8) {
      var j = i
      while (j < 8 && g(j) == 0) j += 1
      if (j - i > bestLen) { best = i; bestLen = j - i }
      i = math.max(j, i + 1)
    }
    val hex = g.map(Integer.toHexString)
    if (best < 0) hex.mkString(":")
    else hex.take(best).mkString(":") + "::" + hex.drop(best + bestLen).mkString(":")
  }

  private def micros(t: java.sql.Timestamp) =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  test("200 seeded-random rows x 22 types inserted as Native store the expected values") {
    val ch = new MiniClickHouseServer()
    ch.start()
    try {
      ch.createTable("default", "t_native", schema)
      val seed = 20260815L // deterministic: failures must reproduce
      val rows = randomRows(new Random(seed), 200)
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "t_native",
        mappings = mappings))(rows.toDF(columns: _*))
      assert(ch.receivedQueries.asScala.forall(_._1.endsWith("FORMAT Native")))
      val stored = ch.rows("default", "t_native").map(r => r("id") -> r).toMap
      assert(stored.size == 200)
      // the store form of each generated value: integers as BigInt,
      // floats as Double, DateTime/DateTime64 as epoch micros, Date/Date32
      // as epoch days, named tuples as maps
      rows.foreach { case (id, str, fs, b, i32, u16, f32, f64, e, uid, dt, dt64,
                           lc, ns, m, arr, dec, day, day32, (a, n), ip4, ip6) =>
        val want = columns.zip(Seq[Any](BigInt(id), str, fs, b, BigInt(i32),
          BigInt(u16), f32.toDouble, f64, e, uid.toLowerCase, micros(dt),
          micros(dt64), lc, ns, m, arr.map(BigInt(_)).toVector, dec,
          day.toLocalDate.toEpochDay, day32.toLocalDate.toEpochDay,
          Map("a" -> a, "n" -> BigInt(n)), ip4, ipv6Text(ip6))).toMap
        val got = stored(BigInt(id))
        columns.foreach(col => assert(got(col) == want(col), s"row $id col $col"))
      }
    } finally ch.stop()
  }

  test("retainRows=false: validating walk accepts and rejects exactly like the full decode") {
    // The throughput fixtures run with retainRows=false, where the server
    // walks blocks with width-skips instead of materializing values. The
    // walk must accept the identical byte streams the full decode accepts
    // (same 200-row / 22-type corpus) and still raise the decode path's
    // only two fallible faults: unknown enum id (691) and truncation (33).
    val ch = new MiniClickHouseServer(retainRows = false)
    ch.start()
    try {
      ch.createTable("default", "t_native", schema)
      val rows = randomRows(new Random(20260815L), 200)
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "t_native",
        mappings = mappings))(rows.toDF(columns: _*))
      assert(ch.acceptedCount("default", "t_native") == 200)
      assert(ch.rowCount("default", "t_native") == 0, "must not materialize rows")

      /** One 1-column, 1-row Native block: name, declared type, raw bytes. */
      def block(col: String, chType: String, data: Array[Byte]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        ClickHouseNativeTcp.wVarint(out, 1); ClickHouseNativeTcp.wVarint(out, 1)
        ClickHouseNativeTcp.wStr(out, col); ClickHouseNativeTcp.wStr(out, chType)
        out.write(data)
        out.toByteArray
      }
      val hc = ClickHouseHttp.Config(endpoint = ch.endpoint,
        database = "default", table = "neg")
      ch.createTable("default", "neg", Seq("e" -> "Enum8('a' = 1)"))
      // enum id 99, not in the type's value set
      val badEnum = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.post(hc, ClickHouseHttp.insertQuery(hc, Seq("e")),
          block("e", "Enum8('a' = 1)", Array[Byte](99)))
      }
      assert(badEnum.code == 691)
      // 1 row of Int64 declared, only 3 bytes carried
      ch.createTable("default", "neg2", Seq("e2" -> "Int64"))
      val cut = intercept[ClickHouseHttp.CHServerException] {
        ClickHouseHttp.post(hc.copy(table = "neg2"),
          ClickHouseHttp.insertQuery(hc.copy(table = "neg2"), Seq("e2")),
          block("e2", "Int64", Array[Byte](1, 2, 3)))
      }
      assert(cut.code == 33)
    } finally ch.stop()
  }
}
