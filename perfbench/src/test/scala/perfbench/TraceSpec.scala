package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("TraceSpec").config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def jobs(n: Int): Unit =
    (1 to n).foreach(_ => spark.sparkContext.parallelize(1 to 100, 2).map(_ * 2).count())

  test("the listener charges each job to the span whose group was set") {
    val sc = spark.sparkContext
    val t = new Tracer(sc, enabled = true)
    t.span("outer") {
      jobs(1)
      t.span("inner")(jobs(3))
      jobs(2) // back in the outer span's group after the inner one ends
    }
    t.span("other")(jobs(1))
    jobs(1) // outside any span: charged to no span
    t.ledger.get.drain(sc)

    val byName = t.recorded.map(s => s.name -> s).toMap
    val l = t.ledger.get
    assert(l.counters(byName("outer").group).jobs == 3)
    assert(l.counters(byName("inner").group).jobs == 3)
    assert(l.counters(byName("other").group).jobs == 1)
    assert(l.counters(byName("inner").group).tasks == 6)
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("inner").request == byName("outer").id)
    assert(byName("other").parent == 0L)

    val r = new TraceReport(t, 2)
    assert(r.inclusive(byName("outer")).jobs == 6)
    val outer = r.perCall("x", "outer")
    assert(outer("x.jobs_per_call") == 6.0)
    assert(outer("x.zero_job_share") == 0.0)
    val jobNs = r.jobNs(byName("outer"))
    assert(jobNs > 0 && jobNs <= byName("outer").ns)
    assert(r.summary("inner")("calls") == 1.0)
  }

  test("the CPU meter charges task CPU to the op whose jobs ran it") {
    val sc = spark.sparkContext
    val m = new CpuMeter(sc)
    val burn = (1 to 2).map(_ => 0L)
    m.measure("a")(sc.parallelize(1 to 4, 2).map { i =>
      var x = 0L; var k = 0; while (k < 20000000) { x += k ^ i; k += 1 }; x
    }.sum())
    m.measure("b")(burn.sum)
    sc.parallelize(1 to 4, 2).count() // outside any op
    val Seq(a, b, none) = m.ms(Seq("a", "b", "never"))
    assert(a > 5.0, s"op a used $a ms")
    assert(b < a)
    assert(none == 0.0)
    assert(sc.getLocalProperty("perfbench.op") == null)
  }

  test("with tracing off a span only runs its body") {
    val t = new Tracer(spark.sparkContext, enabled = false)
    assert(t.span("x")(41 + 1) == 42)
    assert(t.recorded.isEmpty && t.ledger.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }
}
