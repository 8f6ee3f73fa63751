package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}

import graft.api.ApiServer
import graft.pipeline.{PipelineService, ReferenceConfig}
import graft.sink.{ClickHouseSink, SinkMapper}
import graft.sources.{JsonIngest, KafkaSource}
import graft.types.EngineSchema

/** The pipeline process: the REST API over a PipelineService, built the
  * way `graft.api.ApiMain` builds it (RocksDB state store, shuffle
  * partitions left at Spark's default), with two differences a broker-less
  * image forces: the Kafka source seam reads through `format("graft-kafka")`
  * and the DLQ root is a directory of the run.
  *
  *   PipelineHost <workDir> <cores> <trace 0|1>
  *
  * Prints {"api_port":…, "session_boot_ms":…} once the API listens, then
  * answers JSON command lines on stdin:
  *   {"cmd":"stats","pipeline_id":id,"wait_s":s}  per-layer counters
  *        (trace mode), once the sink query's batch has reported progress
  *   {"cmd":"ladder","config":json,"appended":n}  layer-ladder rates
  *   {"cmd":"failures","quiet_s":q,"wait_s":w}  once no query has run a
  *        batch with data, started, progressed or stopped for q seconds
  *        (at most w), the queries that stopped with an error since the
  *        last call
  *   {"cmd":"reset"}      forget the counters so far (spans are kept)
  *   {"cmd":"quit"}
  * With trace 1 it records spans (micro-batches and their phases, the sink
  * handler, Spark jobs and stages) from listeners and the sink seam, keeps
  * them in memory, and writes them to <workDir>/spans.json on quit. */
object PipelineHost {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workDir, cores, traceFlag) = args
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val bootMs = (System.nanoTime() - t0) / 1e6
    val tracer = if (traceFlag == "1") Some(new Tracer(spark)) else None
    // a query that stops with an error fails the run, traced or not
    val failed = new ConcurrentLinkedQueue[String]()
    val lastEventMs = new AtomicLong(System.currentTimeMillis())
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        lastEventMs.set(System.currentTimeMillis())
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        lastEventMs.set(System.currentTimeMillis())
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
        e.exception.foreach(x => failed.add(s"query ${e.id}: ${x.linesIterator.nextOption().getOrElse("")}"))
        lastEventMs.set(System.currentTimeMillis())
      }
    })

    val reader: (SparkSession, KafkaSource.Config) => DataFrame = (s, kc) =>
      s.readStream.format("graft-kafka")
        .option("brokers", kc.brokers.mkString(",")).option("topic", kc.topic).load()
    val svc = new PipelineService(spark, dlqRoot = Some(s"$workDir/dlq"),
      checkpointRoot = Some(s"$workDir/ckpt"), sourceReader = reader,
      sinkAttach = tracer.fold[(DataFrame, ClickHouseSink.Config, String, DataFrame => Unit) => DataStreamWriter[Row]](
        ClickHouseSink.attach)(_.timedAttach))
    val api = new ApiServer(spark, svc)
    val port = api.start(0)
    def reply(m: Map[String, Any]): Unit = { println(mapper.writeValueAsString(m)); System.out.flush() }
    reply(Map("api_port" -> port, "session_boot_ms" -> bootMs))

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      val c = mapper.readTree(line)
      try c.get("cmd").asText match {
        case "stats" =>
          reply(tracer.fold(Map.empty[String, Any]) { t =>
            t.awaitProgress((c.get("wait_s").asDouble * 1000).toLong)
            t.stats(s"$workDir/dlq/${c.get("pipeline_id").asText}")
          })
        case "reset" => tracer.foreach(_.reset()); reply(Map("ok" -> true))
        case "failures" =>
          // quiet: no query event, and no query still running a batch
          // with data (its progress event comes after the batch commits)
          val quietMs = (c.get("quiet_s").asDouble * 1000).toLong
          val end = System.currentTimeMillis() + (c.get("wait_s").asDouble * 1000).toLong
          var busyMs = 0L
          def now = System.currentTimeMillis()
          val t0 = now
          def busy = spark.streams.active.exists(q => q.status.isTriggerActive && q.status.isDataAvailable)
          while ({ if (busy) busyMs = now; now - math.max(lastEventMs.get, busyMs) < quietMs && now < end })
            Thread.sleep(20)
          val errors = Iterator.continually(failed.poll()).takeWhile(_ != null).toList
          reply(Map("query_failures" -> errors.size, "errors" -> errors, "settle_s" -> (now - t0) / 1e3))
        case "ladder" =>
          reply(ladder(spark, workDir, reader, c.get("config").asText, c.get("appended").asLong,
            c.get("rung_s").asDouble, c.get("budget_s").asDouble))
        case "quit" => line = null
        case other => reply(Map("error" -> s"unknown command $other"))
      } catch {
        case e: Throwable => reply(Map("error" -> s"${e.getClass.getName}: ${e.getMessage}"))
      }
      if (line != null) line = in.readLine()
    }
    // every figure has been read: exit without waiting for queries and the
    // session to wind down (a stopping stateful query can take 30 s); the
    // run directory is removed by the caller
    try tracer.foreach(_.writeSpans(s"$workDir/spans.json"))
    finally Runtime.getRuntime.halt(0)
  }

  /** Wait until a pipeline query has read `rows` input rows, or has
    * stopped. Unlike processAllAvailable this returns once the rows are
    * read even when the query fails on a later micro-batch, so the rung
    * still times the work; the failure is reported by `failures`. */
  private def awaitRead(q: org.apache.spark.sql.streaming.StreamingQuery, rows: Long): Unit = {
    def read = q.recentProgress.map(_.numInputRows).sum
    while (read < rows && q.isActive) Thread.sleep(20)
    if (read < rows) throw q.exception.getOrElse(
      new IllegalStateException(s"query stopped after $read of $rows rows"))
  }

  /** Layer ladder over the round's (already drained) topics, each rung a
    * streaming query to a noop sink in this process:
    * read → +JsonIngest.parse → +operators (the configured pipeline through
    * a noop `sinkAttach`) → +SinkMapper. Returns events/s per rung. */
  def ladder(spark: SparkSession, workDir: String,
             reader: (SparkSession, KafkaSource.Config) => DataFrame,
             configJson: String, appended: Long, rungS: Double, budgetS: Double): Map[String, Any] = {
    val t0 = System.nanoTime()
    val cfg = ReferenceConfig.fromJson(configJson)
    val brokers = cfg.source.brokers.getOrElse(Nil)
    var seq = 0
    def ckpt(): String = { seq += 1; s"$workDir/ladder/ckpt$seq" }
    def drain(frames: Seq[DataFrame]): Double = {
      val t = System.nanoTime()
      val qs = frames.map(_.writeStream.format("noop").option("checkpointLocation", ckpt()).start())
      qs.foreach(_.processAllAvailable()); qs.foreach(_.stop())
      appended / ((System.nanoTime() - t) / 1e9)
    }
    def raw(t: graft.pipeline.TopicConfig) =
      reader(spark, KafkaSource.Config(brokers = brokers, topic = t.name))
    val readEps = drain(cfg.source.topics.map(raw))
    val parseEps = drain(cfg.source.topics.map { t =>
      val (payload, _) = JsonIngest.stripSchemaRegistryPrefix(col("value"))
      JsonIngest.parse(raw(t).withColumn("__payload", payload), "__payload",
        EngineSchema.structFor(t.schemaFields.map(f => f.name -> f.`type`)))
        .filter(!col("__corrupt"))
    })
    def elapsedS = (System.nanoTime() - t0) / 1e9
    // a rung through the whole pipeline is skipped (0) when it would not
    // finish inside the caller's budget
    def throughService(name: String, last: DataFrame => DataFrame): Double =
      if (elapsedS + 1.5 * rungS > budgetS) 0.0 else {
        val before = spark.streams.active.map(_.id).toSet
        val svc = new PipelineService(spark, dlqRoot = Some(s"$workDir/ladder/dlq"),
          checkpointRoot = Some(s"$workDir/ladder/$name"), sourceReader = reader,
          sinkAttach = (df, c, ck, _) => last(df).writeStream
            .trigger(Trigger.ProcessingTime(s"${c.maxDelaySeconds} seconds"))
            .option("checkpointLocation", ck)
            .foreachBatch { (b: DataFrame, _: Long) => b.write.format("noop").mode("overwrite").save() })
        val id = s"${cfg.pipelineId}-$name"
        val t = System.nanoTime()
        svc.create(cfg.copy(pipelineId = id))
        val started = svc.startFromConfig(id)
        require(started.isRight, s"ladder rung $name: $started")
        spark.streams.active.filterNot(q => before(q.id)).foreach(awaitRead(_, appended))
        val eps = appended / ((System.nanoTime() - t) / 1e9)
        svc.terminate(id)
        eps
      }
    val opsEps = throughService("ops", identity)
    val sinkCfg = cfg.sink.get
    val mappings = sinkCfg.tableMapping.map(m =>
      SinkMapper.ColumnMapping(m.fieldName, m.columnName, m.columnType))
    val mapEps = throughService("map", SinkMapper(mappings))
    Map("kafka.read_eps" -> readEps, "ingest.parse_eps" -> parseEps,
      "operators.eps" -> opsEps, "sink.map_eps" -> mapEps,
      "ladder_s" -> (System.nanoTime() - t0) / 1e9)
  }
}
