package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")

  override def afterAll(): Unit = spark.stop()

  test("tail: highest percentile with at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == ((75, 30.0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90, 90.0)))
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == ((99, 990.0)))
    for (n <- 20 to 300) {
      val ys = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val (p, v) = Stats.tail(ys)
      assert(ys.count(_ > v) >= 10, s"n=$n p=$p")
      if (p < 99) assert(ys.count(_ > Stats.percentile(ys, p + 1)) < 10, s"n=$n p=$p")
    }
  }

  test("tail: with too few samples it is the maximum, stated as p100") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((100, 3.0)))
    assert(Stats.tail((1 to 19).map(_.toDouble)) == ((100, 19.0)))
    assert(Stats.tail((1 to 20).map(_.toDouble))._1 == 50)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of direct children, clipped to the span") {
    val spans = Seq(
      Span(0, -1, "query", "query", "q", 0, 100),
      Span(1, 0, "a", "phase", "q", 10, 30),
      Span(2, 0, "b", "phase", "q", 20, 50), // overlaps a
      Span(3, 0, "c", "phase", "q", 90, 120), // runs past the parent's end
      Span(4, 1, "job", "job", "q", 12, 28)) // grandchild: only a's business
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20 - 16)
    assert(self(2) == 30)
    assert(self(3) == 30)
    assert(self(4) == 16)
  }

  test("phase self times add up to the query's wall time") {
    val phases = Seq(("build", 0L, 7L), ("plan", 7L, 9L), ("action", 9L, 40L),
                     ("release", 40L, 41L))
    val root = Span(0, -1, "q", "query", "q", 0, 41)
    val kids = phases.zipWithIndex.map { case ((n, a, b), i) =>
      Span(i + 1, 0, n, "phase", "q", a, b) }
    val jobs = Seq(Span(9, 3, "job", "job", "q", 10, 30), Span(10, 1, "job", "job", "q", 2, 5))
    val self = Trace.selfTimes(root +: (kids ++ jobs))
    assert((root +: (kids ++ jobs)).map(s => self(s.id)).sum == root.dur)
  }

  test("digest is stable across two runs and independent of row and column order") {
    val df = spark.range(0, 2000).select(
      col("id"), (col("id") % 7).cast("int").as("k"),
      (col("id") / 3.0).as("d"), concat(lit("s"), col("id")).as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("maybe"))
    val a = Digest.of(df)
    val b = Digest.of(df)
    assert(a == b)
    assert(a.rows == 2000)
    val shuffled = df.repartition(5, col("k")).select("s", "maybe", "k", "id", "arr", "d")
    assert(Digest.of(shuffled) == a)
    assert(Digest.of(df.filter(col("id") =!= 17)) != a)
    assert(Digest.of(df.union(df.limit(1))).hash != a.hash)
  }

  test("digest ignores last-ulp float differences but not real ones") {
    val x = 0.1 + 0.2
    assert(Digest.ofDouble(x) == Digest.ofDouble(0.3))
    assert(Digest.ofDouble(-0.0) == Digest.ofDouble(0.0))
    assert(Digest.ofDouble(0.3) != Digest.ofDouble(0.3000001))
  }
}
