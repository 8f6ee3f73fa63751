package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sink.{ClickHouseSink, MiniClickHouseServer}
import graft.sink.SinkMapper.ColumnMapping

/** The ClickHouse READ source over real loopback HTTP: write through the
  * sink's Native INSERT leg, read back with
  * `spark.read.format("graft-clickhouse")`, and assert the two scan
  * levers actually reached the server — the SELECT list is the pruned
  * column set and the WHERE clause carries the pushed filters (checked
  * against the fixture's received-query log, not just the Spark plan).
  * The fixture evaluates WHERE with SQL three-valued NULL logic and
  * re-encodes its stored values as real Native wire bytes, so this
  * round-trips client encode → server decode → server encode → client
  * decode over the full supported type matrix. */
class ClickHouseReadSpec extends SparkSpec {
  import spark.implicits._

  private def withServer(f: MiniClickHouseServer => Unit): Unit = {
    val ch = new MiniClickHouseServer()
    ch.start()
    try f(ch) finally ch.stop()
  }

  private def reader(ch: MiniClickHouseServer, table: String) =
    spark.read.format("graft-clickhouse")
      .option("url", ch.endpoint).option("database", "default")
      .option("table", table)

  private def received(ch: MiniClickHouseServer): Seq[String] =
    ch.receivedQueries.asScala.map(_._1).toSeq

  test("full type matrix round-trips write -> read") {
    withServer { ch =>
      val schema = Seq(
        "id" -> "Int64", "s" -> "String", "i32" -> "Int32", "u64" -> "UInt64",
        "f64" -> "Float64", "e" -> "Enum8('red' = 1, 'blue' = 2)",
        "dt" -> "DateTime", "dt64" -> "DateTime64(6)",
        "lc" -> "LowCardinality(String)", "ns" -> "Nullable(String)",
        "m" -> "Map(String, String)", "arr" -> "Array(Int64)",
        "dec" -> "Decimal(12, 3)", "day" -> "Date",
        "tup" -> "Tuple(a String, n Int32)", "ip4" -> "IPv4", "ip6" -> "IPv6")
      ch.createTable("default", "rt", schema)
      val ts = java.sql.Timestamp.from(java.time.Instant.parse("2025-02-21T07:45:48Z"))
      val ts64 = { val t = java.sql.Timestamp.from(
        java.time.Instant.parse("2025-02-21T07:45:48Z")); t.setNanos(123456000); t }
      val df = Seq(
        (1L, "héllo", 42, "18446744073709551615", 2.25, "blue", ts, ts64,
          "low", "present", Map("k1" -> "v1", "k2" -> "v2"), Seq(1L, 2L, 3L),
          BigDecimal("123456789.125"), java.sql.Date.valueOf("2025-06-01"),
          ("x", 7), "1.2.3.4", "2001:db8::1"),
        (2L, "wörld", -7, "0", -0.5, "red", ts, ts64,
          "low", null.asInstanceOf[String], Map.empty[String, String], Seq.empty[Long],
          BigDecimal("-1.500"), java.sql.Date.valueOf("1970-01-01"),
          ("y", -1), "0.0.0.0", "::1"))
        .toDF("id", "s", "i32", "u64", "f64", "e", "dt", "dt64", "lc", "ns",
          "m", "arr", "dec", "day", "tup", "ip4", "ip6")
        // full-range UInt64 input must be Decimal(20,0): the cast matrix's
        // strict pairings reject string input for integer columns (a
        // string there nulls out, per reference ConvertValue semantics)
        .withColumn("u64", $"u64".cast(DecimalType(20, 0)))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "rt",
        mappings = schema.map { case (n, t) => ColumnMapping(n, n, t) }))(df)

      val back = reader(ch, "rt").load().orderBy("id")
      // inferred schema follows CHType.sparkType
      val bySchema = back.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(bySchema("id") == LongType && bySchema("i32") == IntegerType)
      assert(bySchema("u64") == DecimalType(20, 0))
      assert(bySchema("dec") == DecimalType(12, 3))
      assert(bySchema("dt") == TimestampType && bySchema("dt64") == TimestampType)
      assert(bySchema("day") == DateType)
      assert(bySchema("m") == MapType(StringType, StringType))
      assert(bySchema("arr") == ArrayType(LongType))
      assert(bySchema("tup") == StructType(Seq(
        StructField("a", StringType), StructField("n", IntegerType))))

      val rows = back.collect()
      assert(rows.length == 2)
      val r1 = rows(0)
      assert(r1.getAs[String]("s") == "héllo")
      assert(r1.getAs[java.math.BigDecimal]("u64").toString == "18446744073709551615")
      assert(r1.getAs[Double]("f64") == 2.25)
      assert(r1.getAs[String]("e") == "blue")
      assert(r1.getAs[java.sql.Timestamp]("dt") == ts)
      assert(r1.getAs[java.sql.Timestamp]("dt64") == ts64)
      assert(r1.getAs[String]("lc") == "low")
      assert(r1.getAs[String]("ns") == "present")
      assert(r1.getAs[Map[String, String]]("m") == Map("k1" -> "v1", "k2" -> "v2"))
      assert(r1.getSeq[Long](r1.fieldIndex("arr")) == Seq(1L, 2L, 3L))
      assert(r1.getAs[java.math.BigDecimal]("dec").toPlainString == "123456789.125")
      assert(r1.getAs[java.sql.Date]("day") == java.sql.Date.valueOf("2025-06-01"))
      assert(r1.getAs[org.apache.spark.sql.Row]("tup") ==
        org.apache.spark.sql.Row("x", 7))
      assert(r1.getAs[String]("ip4") == "1.2.3.4")
      assert(r1.getAs[String]("ip6") == "2001:db8::1")
      val r2 = rows(1)
      assert(r2.getAs[String]("ns") == null)
      assert(r2.getAs[java.math.BigDecimal]("dec").toPlainString == "-1.500")
      assert(r2.getSeq[Long](r2.fieldIndex("arr")).isEmpty)
    }
  }

  private def eventsTable(ch: MiniClickHouseServer): Unit = {
    ch.createTable("default", "ev", Seq(
      "id" -> "Int64", "kind" -> "String", "score" -> "Float64",
      "note" -> "Nullable(String)"))
    val df = (1L to 100L).map(i => (i,
      if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma",
      i / 10.0, if (i % 5 == 0) null else s"note$i"))
      .toDF("id", "kind", "score", "note")
    ClickHouseSink.writeBatch(ClickHouseSink.Config(
      url = ch.endpoint, database = "default", table = "ev",
      mappings = Seq(ColumnMapping("id", "id", "Int64"),
        ColumnMapping("kind", "kind", "String"),
        ColumnMapping("score", "score", "Float64"),
        ColumnMapping("note", "note", "Nullable(String)"))))(df)
    ch.receivedQueries.clear()
  }

  test("column pruning reaches the server's SELECT list") {
    withServer { ch =>
      eventsTable(ch)
      val got = reader(ch, "ev").load().select("kind", "id").collect()
      assert(got.length == 100)
      val sels = received(ch).filter(_.startsWith("SELECT"))
      assert(sels.nonEmpty)
      assert(sels.forall(q => q.contains("`kind`, `id`") || q.contains("`id`, `kind`")))
      assert(sels.forall(q => !q.contains("`score`") && !q.contains("`note`")))
    }
  }

  test("filter pushdown reaches the server's WHERE; unsupported filters stay Spark-side") {
    withServer { ch =>
      eventsTable(ch)
      val df = reader(ch, "ev").load()
        .filter($"id" > 50L && $"kind".startsWith("al") && length($"note") > 2)
      val rows = df.collect()
      // Spark-equivalent oracle
      val expect = (1L to 100L).filter(i => i > 50 && i % 3 == 0 && i % 5 != 0)
      assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == expect)
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("WHERE"), q)
      assert(q.contains("`id` > 50"), q)
      assert(q.contains("`kind` LIKE 'al%'"), q)
      assert(!q.toLowerCase.contains("length"), s"unsupported filter leaked: $q")
      // and the plan shows the pushed set
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft-clickhouse"), plan.take(400))
    }
  }

  test("IN / IS NULL / != push down with SQL three-valued NULL semantics") {
    withServer { ch =>
      eventsTable(ch)
      val withNull = reader(ch, "ev").load().filter($"note".isNull)
      assert(withNull.count() == 20)
      // != over a nullable column must NOT return null rows (UNKNOWN filters)
      val ne = reader(ch, "ev").load().filter($"note" =!= "note1")
        .select("id").as[Long].collect().toSet
      val expect = (1L to 100L).filter(i => i % 5 != 0 && i != 1).toSet
      assert(ne == expect)
      val in = reader(ch, "ev").load().filter($"kind".isin("alpha", "gamma"))
      assert(in.count() == (1L to 100L).count(i => i % 3 != 1))
      val q = received(ch).filter(_.contains(" IN ")).last
      assert(q.contains("`kind` IN ('alpha', 'gamma')"), q)
    }
  }

  test("JDBC-style partitioned read fans out to independent range queries") {
    withServer { ch =>
      eventsTable(ch)
      val df = reader(ch, "ev")
        .option("partitionColumn", "id")
        .option("lowerBound", "1").option("upperBound", "101")
        .option("numPartitions", "4")
        .load()
      assert(df.rdd.getNumPartitions == 4)
      assert(df.count() == 100)
      // disjoint + total: no row lost, none duplicated
      assert(df.select("id").as[Long].collect().sorted.toSeq == (1L to 100L))
      val sels = received(ch).filter(_.startsWith("SELECT"))
      assert(sels.count(_.contains("WHERE")) >= 4)
      assert(sels.exists(_.contains("IS NULL")), "first range must sweep NULLs")
    }
  }

  test("time-striped partitioned read: temporal partitionColumn with ISO bounds") {
    withServer { ch =>
      ch.createTable("default", "tm_part", Seq(
        "id" -> "Int64", "ts" -> "DateTime64(6)", "day" -> "Date"))
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      val df = (0L until 96L).map { h =>
        (h, java.sql.Timestamp.from(base.plusSeconds(h * 3600)),
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19723 + h / 24)))
      }.toDF("id", "ts", "day")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "tm_part",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("ts", "ts", "DateTime64(6)"),
          ColumnMapping("day", "day", "Date"))))(df)
      ch.receivedQueries.clear()
      // a DateTime64 partition column strides in epoch micros and renders
      // tz-unambiguous bound literals — the natural parallel scan over an
      // events table needs no numeric surrogate column
      val parts = reader(ch, "tm_part")
        .option("partitionColumn", "ts")
        .option("lowerBound", "2024-01-01T00:00:00Z")
        .option("upperBound", "2024-01-05T00:00:00Z")
        .option("numPartitions", "4")
        .load()
      assert(parts.rdd.getNumPartitions == 4)
      // disjoint + total: every row exactly once
      assert(parts.select("id").as[Long].collect().sorted.toSeq == (0L until 96L))
      val sels = received(ch).filter(_.startsWith("SELECT"))
      assert(sels.count(_.contains("fromUnixTimestamp64Micro(")) == 4,
        sels.mkString("; "))
      assert(sels.exists(_.contains("IS NULL")), "first range must sweep NULLs")
      // the UTC 'yyyy-MM-dd HH:mm:ss' spelling parses to the same stripes
      val alt = reader(ch, "tm_part")
        .option("partitionColumn", "ts")
        .option("lowerBound", "2024-01-01 00:00:00")
        .option("upperBound", "2024-01-05 00:00:00")
        .option("numPartitions", "4").load()
      assert(alt.count() == 96)
      // Date partition columns stride in days via toDate32
      ch.receivedQueries.clear()
      val byDay = reader(ch, "tm_part")
        .option("partitionColumn", "day")
        .option("lowerBound", "2024-01-01")
        .option("upperBound", "2024-01-05")
        .option("numPartitions", "4").load()
      assert(byDay.select("id").as[Long].collect().sorted.toSeq == (0L until 96L))
      assert(received(ch).filter(_.startsWith("SELECT"))
        .count(_.contains("toDate32('")) == 4)
    }
  }

  test("empty projection (count) still counts rows without shipping columns") {
    withServer { ch =>
      eventsTable(ch)
      assert(reader(ch, "ev").load().count() == 100)
    }
  }

  test("aggregate pushdown: GROUP BY + count/min/max/sum/avg run server-side") {
    withServer { ch =>
      eventsTable(ch)
      val agg = reader(ch, "ev").load()
        .groupBy("kind")
        .agg(count("*").as("n"), count($"note").as("nn"),
          min($"score").as("mn"), max($"id").as("mx"),
          sum($"id").as("sm"), avg($"score").as("av"))
        .orderBy("kind")
      val rows = agg.collect()
      // oracle: same aggregation computed locally
      val groups = (1L to 100L).groupBy(i =>
        if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma")
      rows.foreach { r =>
        val is = groups(r.getAs[String]("kind"))
        assert(r.getAs[Long]("n") == is.size)
        assert(r.getAs[Long]("nn") == is.count(_ % 5 != 0))
        assert(r.getAs[Double]("mn") == is.map(_ / 10.0).min)
        assert(r.getAs[Long]("mx") == is.max)
        assert(r.getAs[Long]("sm") == is.sum)
        assert(math.abs(r.getAs[Double]("av") - is.map(_ / 10.0).sum / is.size) < 1e-9)
      }
      // the aggregation genuinely ran on the server: the query carries
      // GROUP BY + aggregate functions, and no full-row scan was issued
      val sels = received(ch).filter(_.startsWith("SELECT"))
      assert(sels.nonEmpty)
      assert(sels.forall(_.contains("GROUP BY `kind`")), sels.mkString("; "))
      assert(sels.last.contains("CAST(count() AS Int64)"), sels.last)
      assert(sels.last.contains("minOrNull(`score`)"), sels.last)
      // the global rewrite setting must NOT travel (on a real server it
      // retypes count() to Nullable(UInt64) and misframes the decode)
      val ps = ch.receivedQueries.asScala.map(_._2).toSeq
      assert(ps.forall(!_.contains("aggregate_functions_null_for_empty")))
    }
  }

  test("global aggregate over an empty set answers SQL NULLs (count 0)") {
    withServer { ch =>
      eventsTable(ch)
      val r = reader(ch, "ev").load()
        .filter($"id" > 1000L)
        .agg(count("*").as("n"), min($"score").as("mn"), sum($"id").as("sm"))
        .collect().head
      assert(r.getAs[Long]("n") == 0L)
      assert(r.isNullAt(r.fieldIndex("mn")))
      assert(r.isNullAt(r.fieldIndex("sm")))
      val q = received(ch).filter(_.contains("count()")).last
      assert(q.contains("`id` > 1000"), q)
    }
  }

  test("partitioned scan pushes PARTIAL aggregates that Spark merges correctly") {
    withServer { ch =>
      eventsTable(ch)
      val agg = reader(ch, "ev")
        .option("partitionColumn", "id")
        .option("lowerBound", "1").option("upperBound", "101")
        .option("numPartitions", "4")
        .load()
        .groupBy("kind").agg(count("*").as("n"), sum($"id").as("sm"))
      val byKind = agg.collect().map(r =>
        r.getAs[String]("kind") -> (r.getAs[Long]("n"), r.getAs[Long]("sm"))).toMap
      val groups = (1L to 100L).groupBy(i =>
        if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma")
      groups.foreach { case (k, is) =>
        assert(byKind(k) == ((is.size.toLong, is.sum)), k)
      }
      // four partial aggregate queries, one per stride range
      val sels = received(ch).filter(_.contains("GROUP BY"))
      assert(sels.size == 4, sels.mkString("; "))
    }
  }

  test("limit pushes down per partition; Spark re-applies the global bound") {
    withServer { ch =>
      eventsTable(ch)
      val got = reader(ch, "ev").load().limit(7).collect()
      assert(got.length == 7)
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("LIMIT 7"), q)
    }
  }

  test("TopN pushdown: ORDER BY + LIMIT ship n rows, not the table") {
    withServer { ch =>
      eventsTable(ch)
      val top = reader(ch, "ev").load()
        .orderBy($"score".desc, $"id".asc).limit(5)
      val ids = top.collect().map(_.getAs[Long]("id")).toSeq
      assert(ids == Seq(100L, 99L, 98L, 97L, 96L))
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("ORDER BY `score` DESC"), q)
      assert(q.contains("`id` ASC"), q)
      assert(q.contains("LIMIT 5"), q)
      // NULLS ordering travels explicitly and is honored: ascending by
      // the nullable column with Spark's default NULLS FIRST puts the
      // 20 null-note rows ahead
      val firstNote = reader(ch, "ev").load()
        .orderBy($"note".asc_nulls_first, $"id".asc).limit(21).collect()
      assert(firstNote.take(20).forall(_.getAs[String]("note") == null))
      assert(firstNote.last.getAs[String]("note") != null)
      val q2 = received(ch).filter(_.startsWith("SELECT")).last
      assert(q2.contains("`note` ASC NULLS FIRST"), q2)
    }
  }

  test("TopN over a partitioned scan: each range answers local top-n, Spark merges") {
    withServer { ch =>
      eventsTable(ch)
      val top = reader(ch, "ev")
        .option("partitionColumn", "id")
        .option("lowerBound", "1").option("upperBound", "101")
        .option("numPartitions", "4")
        .load().orderBy($"id".desc).limit(3)
      assert(top.collect().map(_.getAs[Long]("id")).toSeq == Seq(100L, 99L, 98L))
      val sels = received(ch).filter(_.contains("ORDER BY"))
      assert(sels.size == 4, sels.mkString("; "))
      assert(sels.forall(_.contains("LIMIT 3")), sels.mkString("; "))
    }
  }

  test("DSv2 write: df.write.format(graft-clickhouse) appends via Native blocks, then reads back") {
    withServer { ch =>
      ch.createTable("default", "w_t", Seq(
        "id" -> "Int64", "tag" -> "String", "score" -> "Float64",
        "note" -> "Nullable(String)"))
      val df = (1L to 500L).map(i =>
        (i, s"t${i % 7}", i / 4.0, if (i % 9 == 0) null else s"n$i"))
        .toDF("id", "tag", "score", "note").repartition(4)
      df.write.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "w_t").mode("append").save()
      assert(ch.acceptedCount("default", "w_t") == 500L)
      // read back through the scan: the same engine round-trips its own
      // DSv2 write
      val back = reader(ch, "w_t").load()
      assert(back.count() == 500)
      assert(back.filter($"note".isNull).count() == 500 / 9)
      assert(back.agg(sum($"id")).collect().head.getLong(0) == (1L to 500L).sum)
      // a second append accumulates (append semantics, not overwrite)
      Seq((501L, "t0", 1.0, "x")).toDF("id", "tag", "score", "note")
        .write.format("graft-clickhouse")
        .option("url", ch.endpoint).option("database", "default")
        .option("table", "w_t").mode("append").save()
      assert(ch.acceptedCount("default", "w_t") == 501L)
      // a df column missing from the table fails at PLANNING, not per batch
      val bad = intercept[Exception] {
        Seq((1L, "x")).toDF("id", "nope").write.format("graft-clickhouse")
          .option("url", ch.endpoint).option("database", "default")
          .option("table", "w_t").mode("append").save()
      }
      assert(bad.getMessage != null)
    }
  }

  test("min/max over a LowCardinality column answers a LEGAL Nullable result type") {
    withServer { ch =>
      ch.createTable("default", "lc_t",
        Seq("id" -> "Int64", "tag" -> "LowCardinality(String)"))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "lc_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("tag", "tag", "LowCardinality(String)"))))(
        Seq((1L, "beta"), (2L, "alpha"), (3L, "gamma")).toDF("id", "tag"))
      // Nullable(LowCardinality(...)) is an illegal type both sides ban —
      // the derived aggregate result type must strip the LC wrapper
      val r = reader(ch, "lc_t").load()
        .agg(min($"tag").as("lo"), max($"tag").as("hi")).collect().head
      assert(r.getAs[String]("lo") == "alpha" && r.getAs[String]("hi") == "gamma")
      val q = received(ch).filter(_.contains("minOrNull(")).last
      assert(q.contains("minOrNull(`tag`)"), q)
      assert(q.contains("AS Nullable(String))"), q)
    }
  }

  test("runtime filtering: a dynamic IN over the join key reaches the server's WHERE") {
    withServer { ch =>
      eventsTable(ch)
      val df = reader(ch, "ev").load().filter($"score" >= 0.0)
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
      val rf = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      assert(rf.filterAttributes().map(_.fieldNames.head).toSet ==
        Set("id", "kind", "score", "note"))
      // the exact sequence BatchScanExec#filteredPartitions runs when a
      // dynamic-pruning subquery delivers at execution time: filter(),
      // then RE-plan the partitions, then read them
      rf.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("id", Array(7L, 8L, 9L))))
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.length == 1)
      assert(parts.head.toString.contains("`id` IN (7, 8, 9)"), parts.head.toString)
      val factory = scan.toBatch.createReaderFactory()
      val reader0 = factory.createReader(parts.head)
      var n = 0
      while (reader0.next()) n += 1
      reader0.close()
      assert(n == 3, "the server shipped just the 3 matching rows")
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("`id` IN (7, 8, 9)"), q)
      assert(q.contains("`score` >= 0.0"), q)
    }
  }

  test("multi-block responses stream through the reader; gzip rides the wire") {
    withServer { ch =>
      eventsTable(ch)
      // max_block_size=10 over 100 rows → the fixture answers 10 framed
      // blocks, the reader decodes them one at a time off the live
      // (gzip-inflated) stream — the 100 TB shape where a partition's
      // response never fits one byte array
      val df = reader(ch, "ev").option("settings.max_block_size", "10").load()
      assert(df.count() == 100)
      assert(df.select("id").as[Long].collect().sorted.toSeq == (1L to 100L))
      assert(df.filter($"note".isNull).count() == 20)
      assert(ch.compressedSelects.get() > 0,
        "the server never gzip-compressed a SELECT response")
      val ps = ch.receivedQueries.asScala.map(_._2).toSeq.filter(_.nonEmpty)
      assert(ps.exists(_.get("max_block_size").contains("10")))
      assert(ps.forall(_.get("enable_http_compression").contains("1")))
    }
  }

  test("float equality is NEVER pushed (Float32->Float64 promotion would drop rows)") {
    withServer { ch =>
      ch.createTable("default", "f_t", Seq("id" -> "Int64", "f32" -> "Float32"))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "f_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("f32", "f32", "Float32"))))(
        Seq((1L, 0.1f), (2L, 0.2f), (3L, 0.3f)).toDF("id", "f32"))
      ch.receivedQueries.clear()
      // 0.1f is the canonical promotion trap: (double)0.1f != 0.1d, so a
      // server-side `f32 = 0.1` comparison over the promoted column keeps
      // ZERO rows while Spark's float-to-float compare keeps one
      val eq = reader(ch, "f_t").load().filter($"f32" === 0.1f)
      assert(eq.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
      val eqSels = received(ch).filter(_.startsWith("SELECT"))
      assert(eqSels.forall(q => !q.contains("`f32` =")),
        s"float equality leaked into the server WHERE: ${eqSels.mkString("; ")}")
      // same for IN over float literals
      ch.receivedQueries.clear()
      val in = reader(ch, "f_t").load().filter($"f32".isin(0.1f, 0.3f))
      assert(in.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 3L))
      assert(received(ch).filter(_.startsWith("SELECT"))
        .forall(q => !q.contains(" IN ")), "float IN leaked")
      // RANGE comparisons still push, with the literal at full double
      // precision (promotion is monotone and exact, so results agree)
      ch.receivedQueries.clear()
      val range = reader(ch, "f_t").load().filter($"f32" > 0.1f)
      assert(range.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L, 3L))
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("`f32` > 0.10000000149011612"), q)
    }
  }

  test("pushed float ranges keep NaN rows exactly as Spark does (OR isNaN arm)") {
    withServer { ch =>
      ch.createTable("default", "nan_t",
        Seq("id" -> "Int64", "f" -> "Float64", "nf" -> "Nullable(Float64)"))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "nan_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("f", "f", "Float64"),
          ColumnMapping("nf", "nf", "Nullable(Float64)"))))(
        Seq((1L, 1.5, Some(1.5)), (2L, Double.NaN, None: Option[Double]),
          (3L, 100.0, Some(100.0))).toDF("id", "f", "nf"))
      ch.receivedQueries.clear()
      // Spark sorts NaN ABOVE everything: NaN > 50 is TRUE, so row 2 must
      // survive a pushed range scan even though the server's IEEE compare
      // would drop it — the compiled OR isNaN arm is what keeps it
      val gt = reader(ch, "nan_t").load().filter($"f" > 50.0)
      assert(gt.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L, 3L))
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("(`f` > 50.0 OR isNaN(`f`))"), q)
      // < / <= agree on NaN (false both sides) and push plain
      ch.receivedQueries.clear()
      val lt = reader(ch, "nan_t").load().filter($"f" < 50.0)
      assert(lt.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
      val q2 = received(ch).filter(_.startsWith("SELECT")).last
      assert(q2.contains("`f` < 50.0") && !q2.contains("isNaN"), q2)
      // NULL propagates identically through the OR arm: the null row is
      // dropped on both sides, never resurrected by isNaN(NULL)
      ch.receivedQueries.clear()
      val nf = reader(ch, "nan_t").load().filter($"nf" >= 1.0)
      assert(nf.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 3L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains("(`nf` >= 1.0 OR isNaN(`nf`))"))
      // parity: pushed result set == the same predicate evaluated
      // Spark-side over a full scan
      val full = reader(ch, "nan_t").load().collect().toSeq
      val sparkSide = full.filter { r =>
        val v = r.getAs[Double]("f"); v.isNaN || v > 50.0 // Spark NaN-greatest
      }.map(_.getAs[Long]("id")).sorted
      assert(gt.collect().map(_.getAs[Long]("id")).sorted.toSeq == sparkSide)
    }
  }

  test("Date/DateTime RANGE filters push down epoch-rendered; equality pushes as a closed-open range") {
    withServer { ch =>
      ch.createTable("default", "tm_t", Seq(
        "id" -> "Int64", "dt64" -> "DateTime64(6)", "dt" -> "DateTime",
        "day" -> "Date"))
      def ts(x: String) = java.sql.Timestamp.from(java.time.Instant.parse(x))
      // instants straddling the 2024-03-10 US spring-forward (07:00 UTC)
      val df = Seq(
        (1L, ts("2024-03-10T06:59:59.500001Z"), ts("2024-03-10T06:59:59Z"),
          java.sql.Date.valueOf("2024-03-09")),
        (2L, ts("2024-03-10T07:00:00.000000Z"), ts("2024-03-10T07:00:00Z"),
          java.sql.Date.valueOf("2024-03-10")),
        (3L, ts("2024-03-10T07:00:00.000001Z"), ts("2024-03-10T07:00:01Z"),
          java.sql.Date.valueOf("2024-03-11"))).toDF("id", "dt64", "dt", "day")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "tm_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("dt64", "dt64", "DateTime64(6)"),
          ColumnMapping("dt", "dt", "DateTime"),
          ColumnMapping("day", "day", "Date"))))(df)
      ch.receivedQueries.clear()
      // a timestamp RANGE bound compiles to epoch micros — tz-unambiguous
      val boundary = ts("2024-03-10T07:00:00Z")
      val micros = java.time.Instant.parse("2024-03-10T07:00:00Z").getEpochSecond * 1000000L
      val ge = reader(ch, "tm_t").load().filter($"dt64" >= boundary)
      assert(ge.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L, 3L))
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains(s"`dt64` >= fromUnixTimestamp64Micro($micros)"), q)
      // the same literal against a SECOND-precision DateTime column:
      // promotion to DateTime64(6) is exact and monotone
      ch.receivedQueries.clear()
      val lt = reader(ch, "tm_t").load().filter($"dt" < boundary)
      assert(lt.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains(s"`dt` < fromUnixTimestamp64Micro($micros)"))
      // Date ranges render as tz-free ISO text via toDate32 (promotion
      // Date→Date32 is exact)
      ch.receivedQueries.clear()
      val dge = reader(ch, "tm_t").load()
        .filter($"day" >= java.sql.Date.valueOf("2024-03-10"))
      assert(dge.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L, 3L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains("`day` >= toDate32('2024-03-10')"))
      // timestamp EQUALITY pushes as the closed-open micro range
      // [v, v+1µs) — same epoch rendering, index-prunable server-side
      ch.receivedQueries.clear()
      val eq = reader(ch, "tm_t").load().filter($"dt64" === boundary)
      assert(eq.collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
      val eqQ = received(ch).filter(_.startsWith("SELECT")).last
      assert(eqQ.contains(s"(`dt64` >= fromUnixTimestamp64Micro($micros) " +
        s"AND `dt64` < fromUnixTimestamp64Micro(${micros + 1}))"), eqQ)
      // a SUB-second equality literal against the micro column: only the
      // exact row matches, pushed and unpushed agree
      ch.receivedQueries.clear()
      val sub = reader(ch, "tm_t").load()
        .filter($"dt64" === ts("2024-03-10T06:59:59.500001Z"))
      assert(sub.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains("fromUnixTimestamp64Micro"), received(ch).mkString("; "))
      // the same sub-second literal against the SECOND-precision dt
      // column matches nothing — on both the pushed and Spark side
      assert(reader(ch, "tm_t").load()
        .filter($"dt" === ts("2024-03-10T06:59:59.500001Z")).count() == 0)
      // Date equality pushes plain (no sub-day precision to mismatch)
      ch.receivedQueries.clear()
      val deq = reader(ch, "tm_t").load()
        .filter($"day" === java.sql.Date.valueOf("2024-03-10"))
      assert(deq.collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains("`day` = toDate32('2024-03-10')"),
        received(ch).mkString("; "))
      // temporal IN pushes as OR-joined equality ranges (timestamps) /
      // equalities (dates)
      ch.receivedQueries.clear()
      val inTs = reader(ch, "tm_t").load()
        .filter($"dt64".isin(ts("2024-03-10T07:00:00Z"),
          ts("2024-03-10T06:59:59.500001Z")))
      assert(inTs.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 2L))
      val inQ = received(ch).filter(_.startsWith("SELECT")).last
      assert(inQ.contains(" OR ") && inQ.contains("fromUnixTimestamp64Micro"), inQ)
      ch.receivedQueries.clear()
      val inD = reader(ch, "tm_t").load()
        .filter($"day".isin(java.sql.Date.valueOf("2024-03-09"),
          java.sql.Date.valueOf("2024-03-11")))
      assert(inD.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 3L))
      assert(received(ch).filter(_.startsWith("SELECT")).last
        .contains("`day` = toDate32('2024-03-09') OR `day` = toDate32('2024-03-11')"),
        received(ch).mkString("; "))
      // a literal OUTSIDE the DateTime64 range would CLAMP server-side:
      // it must stay Spark-side
      ch.receivedQueries.clear()
      val old = reader(ch, "tm_t").load().filter($"dt64" >= ts("1800-01-01T00:00:00Z"))
      assert(old.count() == 3)
      assert(received(ch).filter(_.startsWith("SELECT"))
        .forall(!_.contains("fromUnixTimestamp64Micro")))
    }
  }

  test("a >100-member temporal IN pushes a sargable min/max ENVELOPE; the exact IN stays Spark-side") {
    withServer { ch =>
      ch.createTable("default", "env_t",
        Seq("id" -> "Int64", "dt64" -> "DateTime64(6)", "day" -> "Date"))
      val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
      // 48 hourly rows over two days
      val df = (0 until 48).map { i =>
        (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 3600L)),
          java.sql.Date.valueOf(java.time.LocalDate.ofInstant(
            base.plusSeconds(i * 3600L), java.time.ZoneOffset.UTC)))
      }.toDF("id", "dt64", "day")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "env_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("dt64", "dt64", "DateTime64(6)"),
          ColumnMapping("day", "day", "Date"))))(df)
      // 150 members: two hit rows 5 and 7, the rest are off-grid minutes
      // inside [05:00, 07:00] — min/max span hours 5..7 of day one
      val hits = Seq(5, 7).map(h =>
        java.sql.Timestamp.from(base.plusSeconds(h * 3600L)))
      val misses = (1 to 148).map(m =>
        java.sql.Timestamp.from(base.plusSeconds(5 * 3600L + m * 47L)))
      val members = hits ++ misses
      assert(members.size > 100)
      ch.receivedQueries.clear()
      val got = reader(ch, "env_t").load()
        .filter($"dt64".isin(members: _*))
        .collect().map(_.getAs[Long]("id")).sorted.toSeq
      assert(got == Seq(5L, 7L), "pushed-envelope result must equal the exact IN")
      val q = received(ch).filter(_.startsWith("SELECT")).last
      val loMicros = base.plusSeconds(5 * 3600L).getEpochSecond * 1000000L
      val hiMicros = base.plusSeconds(7 * 3600L).getEpochSecond * 1000000L
      assert(q.contains(s"(`dt64` >= fromUnixTimestamp64Micro($loMicros) " +
        s"AND `dt64` <= fromUnixTimestamp64Micro($hiMicros))"), q)
      // the exact 150-member IN must NOT be in the WHERE (no OR explosion)
      assert(!q.contains(" OR "), q)
      // and the envelope really narrowed the shipped rows: only hours
      // 5..7 of day one leave the server (3 of 48 rows)
      // (the exact IN is re-applied Spark-side — parity asserted above)
      val shipped = reader(ch, "env_t").load()
        .filter($"dt64" >= hits.head && $"dt64" <= hits.last).count()
      assert(shipped == 3)

      // Date flavor: a >100-member date IN ships a toDate32 envelope
      ch.receivedQueries.clear()
      val dayMembers = (0 until 120).map(i =>
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, 1).plusDays(i)))
      val gotDays = reader(ch, "env_t").load()
        .filter($"day".isin(dayMembers: _*))
        .collect().map(_.getAs[Long]("id")).sorted.toSeq
      assert(gotDays == (0L until 48L).toSeq) // both stored days match
      val dq = received(ch).filter(_.startsWith("SELECT")).last
      assert(dq.contains("(`day` >= toDate32('2024-03-01') " +
        "AND `day` <= toDate32('2024-06-28'))"), dq)

      // one-sided envelope: a member below the 1900 floor drops only the
      // lower bound — the upper bound still prunes, parity still exact
      ch.receivedQueries.clear()
      val withAncient = members :+ java.sql.Timestamp.from(
        java.time.Instant.parse("1850-01-01T00:00:00Z"))
      val gotOneSided = reader(ch, "env_t").load()
        .filter($"dt64".isin(withAncient: _*))
        .collect().map(_.getAs[Long]("id")).sorted.toSeq
      assert(gotOneSided == Seq(5L, 7L))
      val oq = received(ch).filter(_.startsWith("SELECT")).last
      assert(oq.contains(s"`dt64` <= fromUnixTimestamp64Micro($hiMicros)") &&
        !oq.contains(s"`dt64` >= fromUnixTimestamp64Micro"), oq)
    }
  }

  test("compileEnvelope: narrowing-only, null members ignored, unrepresentable sides dropped") {
    import org.apache.spark.sql.sources.{EqualTo, In}
    import graft.sources.clickhouse.ClickHouseReadSource.compileEnvelope
    def t(x: String) = java.sql.Timestamp.from(java.time.Instant.parse(x))
    // null members can never match an IN: ignored before min/max
    assert(compileEnvelope(In("c", Array[Any](null, t("2024-01-02T00:00:00Z"),
      t("2024-01-01T00:00:00Z")))).exists(s =>
      s.contains(">=") && s.contains("<=")))
    // all-null / empty / non-temporal / dotted column: no envelope
    assert(compileEnvelope(In("c", Array[Any](null))).isEmpty)
    assert(compileEnvelope(In("c", Array.empty[Any])).isEmpty)
    assert(compileEnvelope(In("c", Array[Any](1, 2, 3))).isEmpty)
    assert(compileEnvelope(In("a.b", Array[Any](t("2024-01-01T00:00:00Z")))).isEmpty)
    // non-IN filters never envelope (exact compile owns them)
    assert(compileEnvelope(EqualTo("c", t("2024-01-01T00:00:00Z"))).isEmpty)
    // both bounds unrepresentable → nothing to push
    assert(compileEnvelope(In("c", Array[Any](t("1850-01-01T00:00:00Z")))).isEmpty)
    // upper bound past the 2299 ceiling drops; the lower still prunes
    assert(compileEnvelope(In("c", Array[Any](t("2024-01-01T00:00:00Z"),
      t("2305-01-01T00:00:00Z")))).exists(s =>
      s.contains(">=") && !s.contains("<=")))
  }

  test("pushed-vs-unpushed parity holds across a DST boundary under a DST-observing session tz") {
    withServer { ch =>
      ch.createTable("default", "dst_t",
        Seq("id" -> "Int64", "dt64" -> "DateTime64(6)"))
      def ts(x: String) = java.sql.Timestamp.from(java.time.Instant.parse(x))
      // one instant per 15 min around 2024-03-10 07:00 UTC (= 02:00 EST,
      // the start of the nonexistent 02:00-03:00 local hour)
      val instants = (0 until 16).map(i =>
        java.time.Instant.parse("2024-03-10T05:00:00Z").plusSeconds(i * 900L))
      val df = instants.zipWithIndex.map { case (inst, i) =>
        (i.toLong, java.sql.Timestamp.from(inst)) }.toDF("id", "dt64")
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "dst_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("dt64", "dt64", "DateTime64(6)"))))(df)
      val tzBefore = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      try {
        // "02:30:00" local does not EXIST on 2024-03-10 in New York —
        // however Spark resolves the cast, the pushed scan must keep
        // exactly the rows the unpushed filter keeps, because the
        // literal is shipped as the RESOLVED instant (epoch micros),
        // never as text the server would re-interpret in its own zone
        for (litText <- Seq("2024-03-10 01:59:59", "2024-03-10 02:30:00",
            "2024-03-10 03:00:00")) {
          val pred = lit(litText).cast("timestamp")
          val pushed = reader(ch, "dst_t").load().filter($"dt64" >= pred)
            .collect().map(_.getAs[Long]("id")).sorted.toSeq
          // same predicate over a LOCAL copy of the table: no pushdown
          val full = reader(ch, "dst_t").load()
          val local = spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(full.collect(): _*)),
            full.schema)
          val unpushed = local.filter($"dt64" >= pred)
            .collect().map(_.getAs[Long]("id")).sorted.toSeq
          assert(pushed == unpushed, s"DST parity broke at $litText")
          assert(pushed.nonEmpty && pushed.size < 16, s"trivial bound at $litText")
          // EQUALITY (compiled as the closed-open [v, v+1µs) range) keeps
          // pushed/unpushed parity across the same nonexistent local hour
          val eqPushed = reader(ch, "dst_t").load().filter($"dt64" === pred)
            .collect().map(_.getAs[Long]("id")).sorted.toSeq
          val eqUnpushed = local.filter($"dt64" === pred)
            .collect().map(_.getAs[Long]("id")).sorted.toSeq
          assert(eqPushed == eqUnpushed, s"DST equality parity broke at $litText")
        }
      } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
    }
  }

  test("a pushed string literal containing a newline survives the POST body intact") {
    withServer { ch =>
      ch.createTable("default", "nl_t", Seq("id" -> "Int64", "s" -> "String"))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "nl_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("s", "s", "String"))))(
        Seq((1L, "line1\nline2"), (2L, "plain")).toDF("id", "s"))
      ch.receivedQueries.clear()
      // the query travels as the whole POST body; a server that read only
      // the first body line would see a truncated, unparseable WHERE
      val got = reader(ch, "nl_t").load().filter($"s" === "line1\nline2")
      assert(got.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("line1\nline2"), q)
    }
  }

  test("nested schema pruning widens back to the full top-level column") {
    withServer { ch =>
      ch.createTable("default", "tup_t", Seq(
        "id" -> "Int64", "tup" -> "Tuple(a String, n Int32)"))
      ClickHouseSink.writeBatch(ClickHouseSink.Config(
        url = ch.endpoint, database = "default", table = "tup_t",
        mappings = Seq(ColumnMapping("id", "id", "Int64"),
          ColumnMapping("tup", "tup", "Tuple(a String, n Int32)"))))(
        Seq((1L, ("x", 10)), (2L, ("y", 20))).toDF("id", "tup"))
      ch.receivedQueries.clear()
      // selecting ONE struct field invites Spark's nested pruning to pass
      // a narrowed struct; the wire always carries the full-arity tuple,
      // so the scan must widen — ordinal access would otherwise read the
      // wrong element (or crash) under a pruned readSchema
      val got = reader(ch, "tup_t").load()
        .select($"id", $"tup".getField("n").as("n")).orderBy("id").collect()
      assert(got.map(r => (r.getAs[Long]("id"), r.getAs[Int]("n"))).toSeq ==
        Seq((1L, 10), (2L, 20)))
      val a = reader(ch, "tup_t").load()
        .select($"tup".getField("a")).as[String].collect().sorted
      assert(a.toSeq == Seq("x", "y"))
    }
  }

  test("native TCP transport (url=tcp://): pruning, pushdown, aggregates and strides ride the native wire") {
    withServer { ch =>
      eventsTable(ch)
      val tcp = new graft.sink.MiniClickHouseTcpServer(ch)
      tcp.start()
      try {
        def rd = spark.read.format("graft-clickhouse")
          .option("url", tcp.endpoint)
          .option("database", "default").option("table", "ev")
        // planning (DESCRIBE) had no HTTP side-channel: schema inferred
        // over the native protocol
        val df0 = rd.load()
        assert(df0.schema.fieldNames.toSeq == Seq("id", "kind", "score", "note"))
        // pruning + filter pushdown reach the TCP wire; no FORMAT clause
        val got = df0.select("kind", "id").filter($"id" > 50L).collect()
        assert(got.length == 50)
        val q = tcp.receivedQueries.asScala.filter(_.startsWith("SELECT")).last
        assert(q.contains("`id` > 50"), q)
        assert(!q.contains("`score`"), q)
        assert(!q.toUpperCase.contains("FORMAT"), q)
        // NULLs decode across the TCP leg
        assert(rd.load().filter($"note".isNull).count() == 20)
        // aggregate pushdown runs server-side over TCP
        val groups = (1L to 100L).groupBy(i =>
          if (i % 3 == 0) "alpha" else if (i % 3 == 1) "beta" else "gamma")
        val agg = rd.load().groupBy("kind")
          .agg(count("*").as("n"), sum($"id").as("sm")).collect()
        agg.foreach { r =>
          val is = groups(r.getAs[String]("kind"))
          assert(r.getAs[Long]("n") == is.size && r.getAs[Long]("sm") == is.sum)
        }
        assert(tcp.receivedQueries.asScala.exists(_.contains("GROUP BY `kind`")))
        // stride partitions: four independent TCP SELECT connections
        val parts = rd.option("partitionColumn", "id")
          .option("lowerBound", "1").option("upperBound", "101")
          .option("numPartitions", "4").load()
        assert(parts.rdd.getNumPartitions == 4)
        assert(parts.select("id").as[Long].collect().sorted.toSeq == (1L to 100L))
        // multi-block framing honors max_block_size over TCP too
        val mb = rd.option("settings.max_block_size", "7").load()
        assert(mb.count() == 100)
      } finally tcp.stop()
    }
  }

  test("estimateStatistics answers exact post-filter rows (the broadcast-decision input)") {
    withServer { ch =>
      eventsTable(ch)
      val df = reader(ch, "ev").load().filter($"id" <= 10L)
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
      val stats = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      assert(stats.numRows().getAsLong == 10, stats.numRows())
      assert(stats.sizeInBytes().getAsLong > 0)
      // with exact small stats the planner picks a broadcast join, not a
      // shuffled sort-merge
      val dim = reader(ch, "ev").load().filter($"id" <= 10L).select($"id", $"kind")
      val fact = spark.range(1, 101).toDF("id")
      val joined = fact.join(dim, "id")
      assert(joined.count() == 10)
      assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // a pushed limit bounds numRows; stats=off suppresses the probe
      val lim = reader(ch, "ev").load().limit(3)
      val limScan = lim.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      assert(limScan.estimateStatistics().numRows().getAsLong == 3)
      ch.receivedQueries.clear()
      val off = reader(ch, "ev").option("stats", "off").load()
      val offScan = off.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      assert(!offScan.estimateStatistics().numRows().isPresent)
      assert(!received(ch).exists(_.contains("count()")), "stats=off still probed")
    }
  }

  test("a FAILED count() probe is retried on the next stats request, not memoized") {
    withServer { ch =>
      eventsTable(ch)
      val df = reader(ch, "ev").load().filter($"id" <= 10L)
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      // a transient server error at first probe answers unknown stats...
      ch.failNextSelect(241, "Memory limit (total) exceeded")
      assert(!scan.estimateStatistics().numRows().isPresent)
      // ...but must NOT poison the cache: the next Statistics request
      // re-probes and gets the exact count (the broadcast-sizing input)
      assert(scan.estimateStatistics().numRows().getAsLong == 10)
      // and the recovered answer memoizes as usual — no third probe
      ch.receivedQueries.clear()
      assert(scan.estimateStatistics().numRows().getAsLong == 10)
      assert(!received(ch).exists(_.contains("count()")))
    }
  }

  test("planning memoization: one DESCRIBE and one count() probe per planned-and-executed query") {
    withServer { ch =>
      eventsTable(ch)
      ch.describeCount.set(0)
      // a full plan-and-execute cycle that exercises EVERY planning stage
      // that used to DESCRIBE (inferSchema, agg compile, partition
      // planning) plus a stats request (the broadcast decision)
      val dim = reader(ch, "ev").load().filter($"id" <= 10L).select($"id", $"kind")
      val fact = spark.range(1, 101).toDF("id")
      val joined = fact.join(dim, "id")
      assert(joined.count() == 10)
      assert(ch.describeCount.get() == 1,
        s"expected exactly ONE DESCRIBE for one planned query, got ${ch.describeCount.get()}")
      val counts = received(ch).filter(_.contains("count()"))
      assert(counts.size <= 1, s"count() probe repeated: ${counts.mkString("; ")}")
      // repeated stats requests against the same scan reuse the memoized
      // probe — zero additional server queries
      ch.receivedQueries.clear()
      val df = reader(ch, "ev").load().filter($"id" <= 10L)
      val scan = df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      assert(scan.estimateStatistics().numRows().getAsLong == 10)
      assert(scan.estimateStatistics().numRows().getAsLong == 10)
      assert(scan.estimateStatistics().sizeInBytes().getAsLong > 0)
      assert(received(ch).count(_.contains("count()")) == 1,
        received(ch).mkString("; "))
    }
  }

  test("runtime IN lists above the cap stay Spark-side; below it they ride the POST body") {
    withServer { ch =>
      eventsTable(ch)
      def scanOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.collectLeaves().collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
        }.head
      // over the cap: skipped (optimization only — the join re-filters)
      val big = scanOf(reader(ch, "ev").load())
      big.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
        .filter(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("id",
            (1L to 10001L).map(x => x: Any).toArray)))
      assert(!big.toBatch.planInputPartitions().head.toString.contains(" IN ("))
      // under the cap: compiled — and the resulting multi-KB query text
      // travels as the POST body (URL length is bounded; bodies are not)
      ch.receivedQueries.clear()
      val ok = scanOf(reader(ch, "ev").load())
      ok.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
        .filter(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("id",
            (1L to 2000L).map(x => x: Any).toArray)))
      val parts = ok.toBatch.planInputPartitions()
      assert(parts.head.toString.contains(" IN ("))
      val r = ok.toBatch.createReaderFactory().createReader(parts.head)
      var n = 0
      while (r.next()) n += 1
      r.close()
      assert(n == 100, "all 100 ids are inside the 2000-key IN")
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.length > 10000, s"expected a multi-KB IN query, got ${q.length} chars")
    }
  }

  test("pushed-filter results match the same filters evaluated Spark-side") {
    withServer { ch =>
      eventsTable(ch)
      val pushed = reader(ch, "ev").load()
        .filter($"score" >= 2.5 && ($"kind" === "beta" || $"note".isNotNull))
      val sparkSide = reader(ch, "ev").load().collect().toSeq // full scan
        .filter { r =>
          r.getAs[Double]("score") >= 2.5 &&
            (r.getAs[String]("kind") == "beta" || r.getAs[String]("note") != null)
        }
      assert(pushed.collect().map(_.getAs[Long]("id")).sorted.toSeq ==
        sparkSide.map(_.getAs[Long]("id")).sorted)
      val q = received(ch).filter(_.startsWith("SELECT")).last
      assert(q.contains("OR"), q)
    }
  }
}
