package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sink.ClickHouseSink

/** Tracing from outside the program: public Spark listeners and the
  * PipelineService sink seam. A span is (key, name, start µs, end µs,
  * parent key); spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final case class Span(key: String, name: String, startUs: Long, endUs: Long, parent: String)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val mainQuery = new AtomicReference[String](null)
  private val handlerMs = new ConcurrentLinkedQueue[java.lang.Double]()
  private val operatorRows = new ConcurrentHashMap[String, Long]()
  // executor counters, per query id ("" when a job carries none)
  private val cpuNs = new AtomicLong(); private val gcMs = new AtomicLong()
  private val shuffleBytes = new AtomicLong(); private val stages = new AtomicLong()
  private val jobs = new AtomicLong()
  private val stageQuery = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, String]()
  private val tasksByQuery = new ConcurrentHashMap[String, Long]()
  private val jobStartUs = new ConcurrentHashMap[Int, (Long, String)]()

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(p)
      if (p.numInputRows > 0 || p.durationMs.containsKey("addBatch")) {
        val qid = p.id.toString
        val start = Instant.parse(p.timestamp).toEpochMilli * 1000L
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val batchKey = s"batch/$qid/${p.batchId}"
        spans.add(Span(batchKey, "micro_batch", start,
          start + d.getOrElse("triggerExecution", 0L) * 1000L, ""))
        // the progress carries phase durations, not start times: lay the
        // phases out back to back in the order the engine runs them
        var at = start
        (PhaseOrder ++ d.keys.filterNot(k => PhaseOrder.contains(k) || k == "triggerExecution"))
          .filter(d.contains).foreach { ph =>
            spans.add(Span(s"phase/$ph/$qid/${p.batchId}", s"batch.$ph", at, at + d(ph) * 1000L, batchKey))
            at += d(ph) * 1000L
          }
      }
    }
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val props = Option(j.properties)
      val qid = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).getOrElse("")
      val bid = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
      j.stageIds.foreach { s => stageQuery.put(s, qid); stageJob.put(s, s"job/${j.jobId}") }
      val parent = if (qid.nonEmpty && bid.nonEmpty) s"phase/addBatch/$qid/$bid" else ""
      jobStartUs.put(j.jobId, (j.time * 1000L, parent))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStartUs.remove(j.jobId)).foreach { case (st, parent) =>
        spans.add(Span(s"job/${j.jobId}", "spark.job", st, j.time * 1000L, parent))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = s.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        spans.add(Span(s"stage/${i.stageId}/${i.attemptNumber()}", "spark.stage",
          a * 1000L, b * 1000L, Option(stageJob.get(i.stageId)).getOrElse("")))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasksByQuery.merge(Option(stageQuery.get(t.stageId)).getOrElse(""), 1L, _ + _)
      Option(t.taskMetrics).foreach { m =>
        cpuNs.addAndGet(m.executorCpuTime); gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })

  /** `ClickHouseSink.attach` with the foreachBatch handler timed: the
    * same trigger, checkpoint and handler, wrapped in a span. */
  def timedAttach(df: DataFrame, c: ClickHouseSink.Config, checkpoint: String,
                  dlq: DataFrame => Unit): DataStreamWriter[Row] = {
    val handler = ClickHouseSink.foreachBatchHandler(c, dlq,
      budgetDir = Some(s"$checkpoint/graft_retry_budget"))
    df.writeStream
      .trigger(Trigger.ProcessingTime(s"${c.maxDelaySeconds} seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        val qid = b.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        mainQuery.compareAndSet(null, qid)
        val st = nowUs()
        handler(b, id)
        val end = nowUs()
        handlerMs.add((end - st) / 1000.0)
        spans.add(Span(s"handler/$qid/$id", "sink.handler", st, end, s"phase/addBatch/$qid/$id"))
        countOperatorRows(qid)
      }
  }

  /** Rows out of the filter and join operators of the batch just
    * written, from the executed plan's SQL metrics. */
  private def countOperatorRows(qid: String): Unit =
    try spark.streams.get(qid) match {
      case w: StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).foreach { ex =>
          ex.executedPlan.foreach { node =>
            val kind = node.nodeName match {
              case n if n.startsWith("Filter") => Some("filter")
              case n if n.contains("FlatMapGroupsWithState") => Some("join")
              case _ => None
            }
            for (k <- kind; m <- node.metrics.get("numOutputRows"))
              operatorRows.merge(k, m.value, _ + _)
          }
        }
      case _ => ()
    } catch { case _: Exception => () }

  /** Wait (at most `waitMs`) for the progress of the sink query's batch:
    * it is reported after the batch commits, which can be well after its
    * last row became visible in the sink. */
  def awaitProgress(waitMs: Long): Unit = {
    val end = System.currentTimeMillis() + waitMs
    def reported = Option(mainQuery.get).exists(q =>
      progress.asScala.exists(p => p.id.toString == q && p.numInputRows > 0))
    while (!reported && System.currentTimeMillis() < end) Thread.sleep(20)
  }

  def stats(dlqPath: String): Map[String, Any] = {
    val main = Option(mainQuery.get)
    val all = progress.asScala.toSeq
    val mine = all.filter(p => main.contains(p.id.toString) && p.numInputRows > 0)
    def p50(xs: Seq[Double]): Double = LoadMain.percentile(xs.sorted.toArray, 0.5) match {
      case x if x.isNaN => 0.0
      case x => x
    }
    def phase(k: String) = p50(mine.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val ops = mine.map(_.stateOperators.toSeq)
    val lastOps = ops.lastOption.getOrElse(Nil)
    val addBatchMs = mine.map(p => Option(p.durationMs.get("addBatch")).map(_.doubleValue).getOrElse(0.0)).sum
    val hms = handlerMs.asScala.map(_.doubleValue).toSeq
    val dlq = try {
      spark.read.parquet(dlqPath).groupBy("component").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    } catch { case _: Exception => Map.empty[String, Long] }
    Map(
      "batch.count" -> mine.size,
      "batch.trigger_ms_p50" -> phase("triggerExecution"),
      "batch.latest_offset_ms_p50" -> phase("latestOffset"),
      "batch.query_planning_ms_p50" -> phase("queryPlanning"),
      "batch.add_batch_ms_p50" -> phase("addBatch"),
      "batch.wal_commit_ms_p50" -> phase("walCommit"),
      "batch.commit_offsets_ms_p50" -> phase("commitOffsets"),
      "batch.tasks" -> (if (mine.isEmpty) 0.0
        else main.map(q => tasksByQuery.getOrDefault(q, 0L)).getOrElse(0L).toDouble / mine.size),
      "kafka.input_rows" -> all.map(_.numInputRows).sum,
      "ingest.corrupt_rows" -> dlq.getOrElse("ingestor", 0L),
      "sink.dlq_rows" -> dlq.getOrElse("sink", 0L),
      "filter.rows_out" -> operatorRows.getOrDefault("filter", 0L),
      "join.rows_out" -> operatorRows.getOrDefault("join", 0L),
      "state.partitions" -> (if (lastOps.isEmpty) 0L else lastOps.map(_.numShufflePartitions).max),
      "state.rows_total" -> lastOps.map(_.numRowsTotal).sum,
      "state.memory_bytes" -> lastOps.map(_.memoryUsedBytes).sum,
      "state.commit_ms_p50" -> p50(ops.map(_.map(_.commitTimeMs).sum.toDouble)),
      "state.update_ms_p50" -> p50(ops.map(_.map(_.allUpdatesTimeMs).sum.toDouble)),
      "state.dropped_by_watermark" -> ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum,
      "sink.handler_ms_p50" -> p50(hms),
      "sink.share_of_batch" -> (if (addBatchMs > 0) hms.sum / addBatchMs else 0.0),
      "spark.executor_cpu_s" -> cpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_write_bytes" -> shuffleBytes.get,
      "spark.stages" -> stages.get,
      "spark.jobs" -> jobs.get)
  }

  /** Forget every counter (spans are kept): the next pipeline's sink
    * query becomes the one measured. */
  def reset(): Unit = {
    progress.clear(); mainQuery.set(null); handlerMs.clear(); operatorRows.clear()
    Seq(cpuNs, gcMs, shuffleBytes, stages, jobs).foreach(_.set(0))
    tasksByQuery.clear()
  }

  def writeSpans(path: String): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    val out = spans.asScala.toSeq.map(s => Map("key" -> s.key, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), m.writeValueAsBytes(out))
  }
}

object Tracer {
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets", "commitBatch")
  def nowUs(): Long = System.currentTimeMillis() * 1000L
}
