package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every workload at smoke size (tables a tenth of the benchmark's, one
  * timed unit) with the correctness checks on, untraced and traced. The
  * printed metrics must be exactly the ones BENCHMARK.json declares, so
  * the harness keeps meeting its contract as the library changes. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val json = new ObjectMapper
  private val work = new File("target/smoke-work").getAbsoluteFile
  private lazy val spark = {
    Main.deleteTree(work)
    work.mkdirs()
    Main.session(work, 2)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(work)
  }

  private def declared(section: String): Set[String] = {
    val bench = json.readTree(new File("../BENCHMARK.json"))
    bench.get(section).elements().asScala.map(_.get("name").asText).toSet
  }

  private def run(workload: String, trace: Boolean): JsonNode = {
    val dir = new File(work, s"$workload-$trace")
    val out = new Run(spark, Main.Args(workload, 7L, 1, trace, smoke = true),
      dir, 2).run()
    json.readTree(out.result)
  }

  for (w <- Workload.Names; trace <- Seq(false, true))
    test(s"$w smoke run (trace=$trace) is correct and reports its metrics") {
      val r = run(w, trace)
      assert(r.get("correct").asBoolean, r.toString)
      assert(r.get("failed").asLong == 0L, r.toString)
      assert(r.get("attempted").asLong > 0L)
      val metrics = r.get("metrics")
      val names = metrics.fieldNames().asScala.toSet
      assert(names == declared(if (trace) "per_layer" else "end_to_end"))
      if (!trace) names.foreach { n =>
        assert(metrics.get(n).get("value").asDouble > 0.0, n)
      }
    }
}
