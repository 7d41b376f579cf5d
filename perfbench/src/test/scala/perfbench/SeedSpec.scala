package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The same seed gives the same inputs; another seed gives other ones. */
class SeedSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.core.Graft.localSession(2, "seed-spec")
  private val dir = Paths.get("work", "seed-spec")
  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the seed fixes the gate order") {
    val gates = Workloads.Etl
    assert(GateWorkload.order(7, gates) == GateWorkload.order(7, gates))
    assert(GateWorkload.order(7, gates).sorted == gates.sorted)
    assert((1 to 5).map(GateWorkload.order(_, gates)).distinct.size > 1)
  }

  test("the seed fixes the synthesized corpus") {
    val plan = CuratePipeline.copyPlan(7)
    assert(plan == CuratePipeline.copyPlan(7))
    assert(plan.map(_._1).distinct.size == CuratePipeline.K)
    assert(CuratePipeline.copyPlan(8) != plan)

    def corpus(seed: Long, name: String): String = {
      val out = dir.resolve(name).toString
      val n = CuratePipeline.synthesize(spark, seed, "data/sf0.1", out)
      val df = spark.read.parquet(out)
      assert(n == CuratePipeline.K * 5000L)
      Fingerprint.of(df.schema, df.collect())
    }
    val a = corpus(7, "a")
    assert(corpus(7, "b") == a)
    assert(corpus(8, "c") != a)
  }
}
