package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.sink.MiniClickHouseServer
import graft.sources.kafka.MiniKafkaBroker.Cluster

/** The load process: a loopback Kafka broker and a type-validating
  * ClickHouse server, the seeded input generator, the expected-output
  * model and the sink-visibility poller, all outside the pipeline process.
  * Every input is generated and encoded into the broker's log in
  * `prepare`, before the measured interval starts.
  *
  *   LoadMain <workload> <seed>
  *
  * It answers one JSON line on stdout for each JSON command line on stdin:
  *   {"cmd":"prepare","round":r,"size":n}  create round r's topics and
  *        table, preload drains, build the model; returns the pipeline
  *        config to POST
  *   {"cmd":"go","dlq_dir":d}  start of the measured interval; d is the
  *        pipeline's DLQ directory
  *   {"cmd":"await","timeout_s":t}  wait for the expected rows; returns
  *        the round's measurements and its check against the model
  *   {"cmd":"quit"}
  * Threads: the broker's and server's connection handlers and one poller
  * — never more busy threads than the pipeline has tasks. */
object LoadMain {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Wall clock in epoch microseconds, monotonic within the process. */
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val seed = args(1).toLong
    val kafka = new Cluster()
    kafka.addBroker()
    val brokers = kafka.brokerList.map(_.address)
    // drains keep rows only where the content is checked row by row;
    // ingest_drain's 1.5 KB rows are checked by count so the fixture does
    // not measure its own heap
    val ch = new MiniClickHouseServer(retainRows = workload != "ingest_drain")
    ch.start()
    val in = new BufferedReader(new InputStreamReader(System.in))
    var round: Round = null
    def reply(m: Map[String, Any]): Unit = { println(mapper.writeValueAsString(m)); System.out.flush() }
    try {
      reply(Map("ready" -> true))
      var line = in.readLine()
      while (line != null) {
        val c = mapper.readTree(line)
        try c.get("cmd").asText match {
          case "prepare" =>
            // the previous round's pipeline has stopped: free its topics
            if (round != null) round.dropTopics()
            round = new Round(workload, seed, c.get("round").asInt, c.get("size").asLong,
              kafka, brokers, ch)
            reply(round.prepare())
          case "go" => round.go(c.get("dlq_dir").asText); reply(Map("ok" -> true))
          case "await" => reply(round.await(c.get("timeout_s").asDouble))
          case "quit" => line = null
          case other => reply(Map("error" -> s"unknown command $other"))
        } catch {
          case e: Throwable => reply(Map("error" -> s"${e.getClass.getName}: ${e.getMessage}"))
        }
        if (line != null) line = in.readLine()
      }
    } finally {
      if (round != null) round.stop()
      try { kafka.stop(); ch.stop() } finally System.exit(0)
    }
  }

  def percentile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks (numpy's default)
      val pos = q * (sorted.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

/** One round: a fresh set of topics and one sink table. */
final class Round(workload: String, seed: Long, r: Int, size: Long, kafka: Cluster,
                  brokers: Seq[String], ch: MiniClickHouseServer) {
  import LoadMain.nowUs
  import Workloads._

  private val id = s"${workload.replace('_', '-')}-r$r"
  private val table = s"${workload}_r$r"
  private var topics = Seq.empty[String]
  private var expected: Expected = _
  private var appended = 0L
  @volatile private var t0Us = 0L
  private val stopFlag = new AtomicBoolean(false)
  // visibility log: (time µs, cumulative row count)
  private val visible = mutable.ArrayBuffer[(Long, Long)]()
  private val seenRows = mutable.ArrayBuffer[Map[String, Any]]()
  private var poller: Thread = _
  private var cpu0 = 0L

  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def topicJson(name: String, fields: Seq[(String, String)]): String = {
    val fs = fields.map { case (n, t) => s"""{"name":"$n","type":"$t"}""" }.mkString(",")
    s"""{"name":"$name","consumer_group":"cg-$name","schema_fields":[$fs]}"""
  }
  private def mappingJson(cols: Seq[(String, String, String)]): String =
    cols.map { case (f, c, t) => s"""{"field_name":"$f","column_name":"$c","column_type":"$t"}""" }.mkString(",")
  private def sinkJson(cols: Seq[(String, String, String)]): String =
    s""""sink":{"url":"${ch.endpoint}","database":"default","table":"$table","max_delay_seconds":0,"table_mapping":[${mappingJson(cols)}]}"""
  private val brokerJson = brokers.map(b => s""""$b"""").mkString(",")

  def prepare(): Map[String, Any] = workload match {
    case "ingest_drain" =>
      val topic = s"ingest_r$r"
      val per = (size + Ingest.partitions - 1) / Ingest.partitions
      (0 until Ingest.partitions).foreach { p =>
        val count = math.max(0L, math.min(per, size - per * p))
        kafka.addPartition(topic, p)
        (0L until count by 1000L).foreach { lo =>
          kafka.append(topic, p, (lo until math.min(lo + 1000L, count)).map(o =>
            s"k${p}_$o" -> Ingest.payload(seed, p * per + o)))
        }
      }
      topics = Seq(topic)
      appended = size
      expected = Ingest.expected(seed, size)
      ch.createTable("default", table, Ingest.columns)
      val cols = Ingest.mappings.map(m => (m.sourceField, m.column, m.chType))
      done(s"""{"pipeline_id":"$id","source":{"kind":"kafka","brokers":[$brokerJson],
         |"topics":[${topicJson(topic, Ingest.fields)}]},${sinkJson(cols)}}""".stripMargin)

    case "stateful_drain" =>
      val (orders, users) = (s"orders_r$r", s"users_r$r")
      val d = Join.generate(seed + r * 1000003L, users = math.max(100, (size / 20).toInt), orders = size.toInt)
      preload(users, Join.partitions, d.users)
      preload(orders, Join.partitions, d.orders)
      topics = Seq(orders, users)
      appended = d.users.size.toLong + d.orders.size
      expected = d.expected
      ch.createTable("default", table, Join.columns)
      val cols = Join.columns.map { case (c, t) => (c, c, t) }
      done(s"""{"pipeline_id":"$id","source":{"kind":"kafka","brokers":[$brokerJson],
         |"topics":[${topicJson(orders, Join.orderFields)},
         |${topicJson(users, Join.userFields)}]},
         |"filter":{"expression":"status != \\"test\\""},
         |"join":{"enabled":true,"sources":[
         |{"source_id":"$orders","join_key":"user_id","time_window":"1h","orientation":"left"},
         |{"source_id":"$users","join_key":"user_id","time_window":"1h","orientation":"right"}],
         |"projections":[{"source_id":"$orders","field":"order_id","output_name":"order_id"},
         |{"source_id":"$orders","field":"user_id","output_name":"user_id"},
         |{"source_id":"$orders","field":"amount","output_name":"amount"},
         |{"source_id":"$users","field":"name","output_name":"name"},
         |{"source_id":"$users","field":"country","output_name":"country"}]},
         |${sinkJson(cols)}}""".stripMargin)
  }

  private def done(config: String): Map[String, Any] =
    Map("pipeline_id" -> id, "config" -> config.replace("\n", ""), "appended" -> appended,
      "expected_sink" -> expected.sinkRows, "expected_dlq" -> expected.dlqRows)

  private def preload(topic: String, parts: Int, rows: IndexedSeq[String]): Unit = {
    val byPart = rows.zipWithIndex.groupBy { case (_, i) => i % parts }
    (0 until parts).foreach { p =>
      kafka.addPartition(topic, p)
      byPart.getOrElse(p, Nil).map(_._1).grouped(1000).foreach { chunk =>
        kafka.append(topic, p, chunk.map(v => (null: String) -> v))
      }
    }
  }

  /** Forget this round's topics; their pipeline must have stopped. */
  def dropTopics(): Unit = topics.foreach(kafka.topics.remove)

  private def count(): Long =
    if (workload == "ingest_drain") ch.acceptedCount("default", table)
    else ch.rowCount("default", table).toLong

  private var posts0 = 0

  /** Where the pipeline dead-letters, and when its first committed file
    * appeared there (0 until then). */
  private var dlqDir: java.io.File = _
  @volatile private var dlqLandedUs = 0L
  private def dlqPending: Boolean = expected.dlqRows > 0 && dlqLandedUs == 0

  def go(dlq: String): Unit = {
    dlqDir = new java.io.File(dlq)
    posts0 = ch.insertAttempts
    cpu0 = cpuNs()
    t0Us = nowUs()
    poller = new Thread(() => poll(), "visibility-poller")
    poller.setDaemon(true); poller.start()
  }

  /** Poll the fixture's row count every 2 ms and log each change. */
  private def poll(): Unit = {
    var last = 0L
    while (!stopFlag.get) {
      val n = count()
      if (n != last) {
        val t = nowUs()
        synchronized {
          visible += ((t, n))
          if (workload != "ingest_drain") {
            val rows = ch.rows("default", table)
            seenRows ++= rows.slice(seenRows.size, rows.size)
          }
        }
        last = n
      }
      // a drain's dead letters land in one committed write
      if (dlqPending && Option(dlqDir.list()).exists(_.exists(_.startsWith("part-"))))
        dlqLandedUs = nowUs()
      java.util.concurrent.locks.LockSupport.parkNanos(2000000L)
    }
  }

  def await(timeoutS: Double): Map[String, Any] = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (System.nanoTime() < deadline && (count() < expected.sinkRows || dlqPending))
      Thread.sleep(5)
    // a short settle so rows past the expected count are caught too
    Thread.sleep(300)
    stopFlag.set(true)
    poller.join(1000)
    val loadCpuS = (cpuNs() - cpu0) / 1e9
    synchronized {
      val finalCount = count()
      // first time every expected row was visible in the sink and the DLQ
      val lastUs = math.max(dlqLandedUs,
        visible.find(_._2 >= expected.sinkRows).map(_._1).getOrElse(nowUs()))
      val failedRows =
        if (workload == "ingest_drain") math.abs(finalCount - expected.sinkRows)
        else multisetDiff(expected.rowHashes, seenRows.map(rowHash).toArray)
      Map[String, Any](
        "appended" -> appended, "sink_rows" -> finalCount, "expected_sink" -> expected.sinkRows,
        "expected_dlq" -> expected.dlqRows, "failed_rows" -> failedRows,
        "drain_s" -> (lastUs - t0Us) / 1e6, "loadgen_cpu_s" -> loadCpuS,
        "visible_steps" -> visible.size, "insert_posts" -> (ch.insertAttempts - posts0))
    }
  }

  def stop(): Unit = stopFlag.set(true)
}
