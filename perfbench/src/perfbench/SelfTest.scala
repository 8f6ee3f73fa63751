package perfbench

/** Self-tests of the expected-output model and the percentile helper.
  * Run with `python3 perfbench/selftest.py`; exits non-zero on a failure. */
object SelfTest {
  import Workloads._

  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $name threw $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("percentile interpolates between closest ranks") {
      val xs = Array(1.0, 2.0, 3.0, 4.0)
      LoadMain.percentile(xs, 0.5) == 2.5 && LoadMain.percentile(xs, 0.0) == 1.0 &&
        LoadMain.percentile(xs, 1.0) == 4.0 && math.abs(LoadMain.percentile(xs, 0.9) - 3.7) < 1e-12
    }
    check("percentile of one value is that value") {
      LoadMain.percentile(Array(7.0), 0.9) == 7.0
    }

    check("row hash ignores column order and numeric spelling") {
      rowHash(Map("a" -> "x", "b" -> 1.5)) == rowHash(Map("b" -> BigDecimal("1.50"), "a" -> "x")) &&
        rowHash(Map("n" -> BigInt(3))) == rowHash(Map("n" -> 3L)) &&
        rowHash(Map("a" -> "x")) != rowHash(Map("a" -> "y"))
    }
    check("multiset diff counts missing and unexpected rows, duplicates included") {
      multisetDiff(Array(1L, 2L, 2L, 3L), Array(2L, 3L, 3L, 4L)) == 4 &&
        multisetDiff(Array(5L, 6L), Array(6L, 5L)) == 0
    }

    check("ingest model: dead letters are exactly the truncated payloads") {
      val n = 5000L
      val e = Ingest.expected(9, n)
      val bad = (0L until n).count(i => Ingest.payload(9, i).length == 120)
      e.dlqRows == bad && e.sinkRows == n - bad && bad > 5 && bad < 60
    }
    check("ingest payloads are the same for the same seed and differ across seeds") {
      Ingest.payload(3, 42) == Ingest.payload(3, 42) && Ingest.payload(3, 42) != Ingest.payload(4, 42)
    }

    check("duplicates are exact copies of ~5% of rows, originals kept in order") {
      val rows = (0 until 4000).map(i => s"r$i")
      val out = interleaveDuplicates(1, rows)
      val extra = out.size - rows.size
      out.distinct == rows && extra > 120 && extra < 300
    }

    check("join model on a hand-built case") {
      val users = Seq(
        """{"user_id":"u1","name":"ann","country":"DE","tier":0}""",
        """{"user_id":"u2","name":"bob","country":"FR","tier":1}""",
        """{"user_id":"u2","name":"bob","country":"FR","tier":1}""") // duplicate
      val orders = Seq(
        """{"order_id":"o1","user_id":"u1","status":"paid","amount":1.5,"sku":"s","qty":1}""",
        """{"order_id":"o1","user_id":"u1","status":"paid","amount":1.5,"sku":"s","qty":1}""", // duplicate
        """{"order_id":"o2","user_id":"u2","status":"test","amount":2.0,"sku":"s","qty":1}""", // filtered
        """{"order_id":"o3","user_id":"u9","status":"new","amount":3.0,"sku":"s","qty":1}""",  // no user
        """{"order_id":"o4","user_id":"u2","status":"new","amount":4.25,"sku":"s","qty":2}""")
      val e = Join.model(users, orders)
      val o1 = Map("order_id" -> "o1", "user_id" -> "u1", "amount" -> 1.5, "name" -> "ann", "country" -> "DE")
      val want = Seq(o1, o1,
        Map("order_id" -> "o4", "user_id" -> "u2", "amount" -> 4.25, "name" -> "bob", "country" -> "FR"))
      e.sinkRows == 3 && multisetDiff(e.rowHashes, want.map(rowHash).toArray) == 0 && e.dlqRows == 0
    }
    check("join generator: model agrees with a recount of its own output") {
      val d = Join.generate(5, users = 200, orders = 3000)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val known = d.users.map(j => m.readTree(j).get("user_id").asText).toSet
      val keep = d.orders.map(m.readTree(_)).filter(o => o.get("status").asText != "test" &&
        known(o.get("user_id").asText))
      keep.size == d.expected.sinkRows && keep.size > keep.map(_.get("order_id").asText).distinct.size &&
        d.users.size > 200 && d.orders.size > 3000
    }
    check("join generator: each user key has one distinct row") {
      val d = Join.generate(6, users = 300, orders = 10)
      d.users.distinct.size == 300
    }

    println(if (failures == 0) "all model self-tests passed" else s"$failures model self-test(s) failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
