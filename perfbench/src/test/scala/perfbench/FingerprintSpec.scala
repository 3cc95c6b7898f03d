package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def lane = {
    import spark.implicits._
    (1 to 200).map(i => (i.toLong, s"k${i % 7}", i * 0.1)).toDF("id", "key", "amount")
  }

  test("fingerprint ignores row order and summation order") {
    val base = Fingerprint.of(lane)
    assert(Fingerprint.of(lane.orderBy(org.apache.spark.sql.functions.desc("id"))) == base)
    assert(Fingerprint.of(lane.repartition(5)) == base)
  }

  test("a lane output with one dropped row fails the golden check") {
    val goldens = Map("q_test" -> Fingerprint.of(lane))
    assert(Fingerprint.check("q_test", Fingerprint.of(lane), goldens).isEmpty)
    val corrupted = lane.filter("id <> 137")
    assert(Fingerprint.check("q_test", Fingerprint.of(corrupted), goldens).nonEmpty)
  }

  test("an altered value fails, a missing golden fails") {
    val goldens = Map("q_test" -> Fingerprint.of(lane))
    val altered = lane.selectExpr("id", "key",
      "CASE WHEN id = 5 THEN amount + 1 ELSE amount END AS amount")
    assert(Fingerprint.check("q_test", Fingerprint.of(altered), goldens).nonEmpty)
    assert(Fingerprint.check("q_other", Fingerprint.of(lane), goldens).nonEmpty)
  }

  test("golden file lines parse, comments skipped") {
    val g = Fingerprint.parse(Seq("# lane\trows\thash", "q01\t4\t-123", ""))
    assert(g == Map("q01" -> Fingerprint(4, "-123")))
  }

  test("task intervals covering an op window are merged and clipped") {
    assert(Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L)
    assert(Tracer.covered(Seq((-5L, 3L)), 0L, 10L) == 3L)
  }
}
