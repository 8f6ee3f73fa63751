package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sink.SinkMapper.ColumnMapping

/** OPT-IN live-server suite — the one validation the in-repo fixtures
  * cannot provide. When `CH_URL` names a reachable ClickHouse HTTP
  * endpoint (e.g. `CH_URL=http://host:8123`, with optional `CH_USER` /
  * `CH_PASSWORD` / `CH_TCP_URL=tcp://host:9000`), the write/read matrix
  * runs against the REAL server; with the variable absent (this sandbox
  * ships no server binary) every test here cancels cleanly via
  * `assume`, the same pattern as the reference's testcontainers tags.
  *
  * What this matrix is FOR — each test names the seam whose
  * fixture-validated status is one notch below server-validated:
  *  - Native-format INSERT + scan round trip (encoder/decoder vs the
  *    server's own NativeReader/NativeWriter);
  *  - LowCardinality DICTIONARY decode against real server
  *    serialization (version/flags/dict/keys layout);
  *  - pushdown typing: per-function `-OrNull` combinators + forced CAST
  *    response types, Date/DateTime epoch-literal range compiles;
  *  - native-TCP protocol framing, and COMPRESSION: a CityHash128
  *    divergence in [[CityHash102]] is rejected by the server as
  *    CHECKSUM_DOESNT_MATCH on the first compressed INSERT — the
  *    definitive cross-validation for the vendored hash.
  */
class RealClickHouseSpec extends SparkSpec {
  import spark.implicits._

  private val httpUrl = sys.env.get("CH_URL").filter(_.startsWith("http"))
  private val tcpUrl = sys.env.get("CH_TCP_URL")
    .orElse(sys.env.get("CH_URL").filter(u =>
      u.startsWith("tcp://") || u.startsWith("tcps://")))
  private val user = sys.env.getOrElse("CH_USER", "default")
  private val pass = sys.env.getOrElse("CH_PASSWORD", "")
  private val db = sys.env.getOrElse("CH_DATABASE", "default")

  private def httpConf(table: String) = ClickHouseHttp.Config(
    endpoint = httpUrl.get, database = db, table = table,
    username = user, password = pass)

  private def ddl(sql: String): Unit =
    ClickHouseHttp.post(httpConf("ignored"), sql, Array.emptyByteArray)

  private val cols = Seq(
    "event_id" -> "Int64", "ts" -> "DateTime64(6)",
    "kind" -> "LowCardinality(String)", "note" -> "Nullable(String)",
    "value" -> "Float64")

  private def seed(table: String, url: String, tcpCompress: Boolean = false): Unit = {
    ddl(s"DROP TABLE IF EXISTS `$db`.`$table`")
    ddl(s"CREATE TABLE `$db`.`$table` (" +
      cols.map { case (n, t) => s"`$n` $t" }.mkString(", ") +
      ") ENGINE = MergeTree ORDER BY event_id")
    val df = (1L to 5000L).map { i =>
      (i, java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 60)),
        s"kind${i % 5}", if (i % 7 == 0) null else s"n$i", i / 10.0)
    }.toDF("event_id", "ts", "kind", "note", "value")
    ClickHouseSink.writeBatch(ClickHouseSink.Config(
      url = url, database = db, table = table, username = user, password = pass,
      mappings = cols.map { case (n, t) => ColumnMapping(n, n, t) },
      tcpCompress = tcpCompress))(df)
  }

  private def reader(table: String, url: String) =
    spark.read.format("graft-clickhouse")
      .option("url", url).option("database", db).option("table", table)
      .option("user", user).option("password", pass)

  test("HTTP: Native write + scan round trip, LC dictionary decode, temporal pushdown") {
    assume(httpUrl.isDefined, "CH_URL not set — live-server suite skipped")
    val t = "graft_smoke_http"
    seed(t, httpUrl.get)
    try {
      val back = reader(t, httpUrl.get).load()
      assert(back.count() == 5000)
      // LC column arrives dictionary-encoded from a REAL server
      assert(back.select("kind").distinct().count() == 5)
      // nullable round trip
      assert(back.filter($"note".isNull).count() == 5000 / 7)
      // temporal RANGE pushdown: epoch-rendered bounds select exactly
      val win = back.filter(
        $"ts" >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-01-03 00:00:00").cast("timestamp"))
      assert(win.count() == 1440)
      // aggregate pushdown typing (-OrNull + CAST) against real derivation
      val agg = back.groupBy("kind").agg(count("*").as("n"),
        min($"value").as("mn"), sum($"event_id").as("sm")).collect()
      assert(agg.length == 5 && agg.map(_.getAs[Long]("n")).sum == 5000)
      // empty set answers SQL NULLs, count 0
      val empty = back.filter($"event_id" > 1000000L)
        .agg(count("*").as("n"), min($"value").as("mn")).collect().head
      assert(empty.getAs[Long]("n") == 0L && empty.isNullAt(1))
    } finally ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
  }

  test("native TCP: protocol round trip; COMPRESSED round trip cross-validates CityHash128") {
    assume(httpUrl.isDefined && tcpUrl.isDefined,
      "CH_URL/CH_TCP_URL not set — live-server suite skipped")
    val t = "graft_smoke_tcp"
    // compressed INSERT: one CityHash divergence = server-side
    // CHECKSUM_DOESNT_MATCH (code 89) on the first block, loudly
    seed(t, tcpUrl.get, tcpCompress = true)
    try {
      val back = reader(t, tcpUrl.get).option("compress", "lz4").load()
      assert(back.count() == 5000)
      assert(back.filter($"event_id".isin(7L, 8L, 9L))
        .collect().map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(7L, 8L, 9L))
      // plain (uncompressed) TCP read agrees byte-for-byte
      val plain = reader(t, tcpUrl.get).load()
      assert(plain.agg(sum($"event_id")).collect().head.getLong(0) ==
        back.agg(sum($"event_id")).collect().head.getLong(0))
    } finally ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
  }

  test("native TCP: ZSTD write codec — the server accepts 0x90 frames and the data round-trips") {
    assume(httpUrl.isDefined && tcpUrl.isDefined,
      "CH_URL/CH_TCP_URL not set — live-server suite skipped")
    val t = "graft_smoke_zstd"
    // a zstd framing mistake (or a CityHash divergence over the zstd
    // payload) is rejected server-side as CHECKSUM_DOESNT_MATCH /
    // UNKNOWN_COMPRESSION_METHOD on the first INSERT block
    ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
    ddl(s"CREATE TABLE `$db`.`$t` (" +
      cols.map { case (n, ty) => s"`$n` $ty" }.mkString(", ") +
      ") ENGINE = MergeTree ORDER BY event_id")
    try {
      val df = (1L to 5000L).map { i =>
        (i, java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 60)),
          s"kind${i % 5}", if (i % 7 == 0) null else s"n$i", i / 10.0)
      }.toDF("event_id", "ts", "kind", "note", "value")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = tcpUrl.get, database = db, table = t, username = user,
        password = pass,
        mappings = cols.map { case (n, ty) => ColumnMapping(n, n, ty) },
        tcpCompress = true, tcpCompressMethod = "zstd"))(df)
      val back = reader(t, tcpUrl.get).option("compress", "zstd").load()
      assert(back.count() == 5000)
      assert(back.agg(sum($"event_id")).collect().head.getLong(0) ==
        5000L * 5001L / 2)
      // and an lz4 read of zstd-written data agrees (server re-frames in
      // its own network_compression_method per connection)
      val lz4 = reader(t, tcpUrl.get).option("compress", "lz4").load()
      assert(lz4.count() == 5000)
    } finally ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
  }

  test("LC dictionary ENCODE (top-level, Nullable inner, Array-nested) is accepted by a real server, both transports") {
    assume(httpUrl.isDefined, "CH_URL not set — live-server suite skipped")
    // the encoder's additional-keys layout (flags word 512|width, no
    // NeedUpdateDictionary bit — clickhouse-cpp ships the same shape) and
    // the Array-nested version-before-offsets prefix order are exactly
    // the seams only a real server's NativeReader can adjudicate
    val urls = Seq("http" -> httpUrl) ++
      (if (tcpUrl.isDefined) Seq("tcp" -> tcpUrl) else Nil)
    for ((label, url) <- urls) {
      val t = s"graft_smoke_lcdict_$label"
      ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
      ddl(s"CREATE TABLE `$db`.`$t` (`id` Int64, " +
        "`k` LowCardinality(String), `kn` LowCardinality(Nullable(String)), " +
        "`tags` Array(LowCardinality(String))" +
        ") ENGINE = MergeTree ORDER BY id")
      try {
        // repetitive values so the encoder provably picks dictionary form
        // (3 distinct + the NULL slot); ragged tag arrays incl. empty
        val df = (1L to 3000L).map { i =>
          (i, s"kind${i % 3}",
            if (i % 5 == 0) null else s"opt${i % 4}",
            (0 until (i % 4).toInt).map(j => s"tag${(i + j) % 6}"))
        }.toDF("id", "k", "kn", "tags")
        ClickHouseSink.writeBatch(ClickHouseSink.Config(
          url = url.get, database = db, table = t, username = user,
          password = pass,
          mappings = Seq(ColumnMapping("id", "id", "Int64"),
            ColumnMapping("k", "k", "LowCardinality(String)"),
            ColumnMapping("kn", "kn", "LowCardinality(Nullable(String))"),
            ColumnMapping("tags", "tags", "Array(LowCardinality(String))"))))(df)
        val back = reader(t, url.get).load()
        assert(back.count() == 3000, s"[$label] row count")
        assert(back.select("k").distinct().count() == 3, s"[$label] dict values")
        assert(back.filter($"kn".isNull).count() == 600, s"[$label] NULL slot")
        assert(back.filter($"kn" === "opt1").count() > 0, s"[$label] real value")
        // nested: per-row array contents survive the dictionary round trip
        val r7 = back.filter($"id" === 7L).select("tags").collect().head
          .getSeq[String](0)
        assert(r7 == Seq("tag1", "tag2", "tag3"), s"[$label] tags row 7: $r7")
        assert(back.filter($"id" === 4L).select("tags").collect().head
          .getSeq[String](0).isEmpty, s"[$label] empty array")
      } finally ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
    }
  }

  test("native TCP: send_logs_level + compression — Log packets ride the PLAIN stream") {
    assume(httpUrl.isDefined && tcpUrl.isDefined,
      "CH_URL/CH_TCP_URL not set — live-server suite skipped")
    val t = "graft_smoke_logs"
    ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
    ddl(s"CREATE TABLE `$db`.`$t` (`event_id` Int64) ENGINE = MergeTree ORDER BY event_id")
    try {
      // a real server under send_logs_level=trace interleaves rowful Log
      // packets with the INSERT/SELECT stream, and writes them
      // UNCOMPRESSED even when block compression is negotiated — the one
      // divergence a fixture can only imitate; this is the live check
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = tcpUrl.get, database = db, table = t,
        username = user, password = pass,
        mappings = Seq(ColumnMapping("event_id", "event_id", "Int64")),
        tcpCompress = true,
        httpSettings = Map("send_logs_level" -> "trace")))(
        (1L to 100L).toDF("event_id"))
      val back = reader(t, tcpUrl.get).option("compress", "lz4")
        .option("settings.send_logs_level", "trace").load()
      assert(back.count() == 100)
      assert(back.agg(sum($"event_id")).collect().head.getLong(0) == 5050L)
    } finally ddl(s"DROP TABLE IF EXISTS `$db`.`$t`")
  }
}
