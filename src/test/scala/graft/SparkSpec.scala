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

  /** Runs `main` in a child JVM on this JVM's classpath, with its temp
    * dir at `tmp`, and returns its `<tag> key=value` stdout lines as a
    * map: for checks of JVM-wide state that one shared test JVM cannot
    * reset. */
  def childJvm(main: String, tag: String, tmp: String, args: String*): Map[String, String] = {
    val bin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val opts = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq
    val cmd = Seq(bin) ++ opts ++ Seq("-Xmx512m", s"-Djava.io.tmpdir=$tmp",
      "-cp", sys.props("java.class.path"), main) ++ args
    scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
      .linesIterator.filter(_.startsWith(s"$tag ")).map { l =>
        val Array(k, v) = l.stripPrefix(s"$tag ").split("=", 2); k -> v
      }.toMap
  }

  /** Runs `body` with the session conf `key` set to `value`, then
    * restores the key's previous setting. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

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

  /** Every operator fused into a whole-stage-codegen stage, with that
    * stage's `codegenStageId`. An `InputAdapter` ends a stage: what
    * sits below it runs outside the generated loop. */
  def codegenStages(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(org.apache.spark.sql.execution.SparkPlan, Int)] = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    def fused(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: InputAdapter => Nil
      case other           => other +: other.children.flatMap(fused)
    }
    flattenPlan(p).flatMap {
      case w: WholeStageCodegenExec => fused(w.child).map(_ -> w.codegenStageId)
      case _                        => Nil
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("local[4]", 4, "graft-test")
}
