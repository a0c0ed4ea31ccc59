package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A fresh dir for one test's files, under the session's artifact
    * root — deleted with it when the JVM exits, like every staged
    * engine dir. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(Artifacts.root(spark), prefix).toString

  /** Every node of a physical plan, descending into AQE wrappers.
    * `AdaptiveSparkPlanExec` (and post-execution `QueryStageExec`) are
    * LeafExecNodes, so a plain `plan.collect` stops at the wrapper and
    * silently sees NOTHING inside any plan with an exchange — plan
    * assertions written that way pass vacuously. Always traverse
    * through this helper. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("local[4]", 4, "graft-test")
}
