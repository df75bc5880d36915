package graft.functions

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier

import scala.jdk.CollectionConverters._

/** The single-inventory contract of [[GraftFunctions]]: every native
  * function object in the package is listed (GraftExtensionsSpec checks
  * that every listed function resolves through SQL text on a session
  * that never went through a Column entry point). This is the guard
  * against the r18 failure class where the `spark.sql.extensions`
  * bundle (a hand-kept copy of the inventory) shipped 3-of-8 and
  * silently dropped each later addition.
  */
class GraftFunctionsSpec extends SparkSpec {

  test("inventory drift guard: every FunctionName constant in the " +
    "functions package is listed in GraftFunctions.all, exactly once") {
    // mechanical source scan, not a hand-kept expected list — a twelfth
    // function object that forgets to register itself in the inventory
    // fails HERE, not in some cluster configured with the SQL bundle
    val srcDir = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(srcDir), s"spec must run from the repo root")
    val namePat = """val FunctionName\s*=\s*"([^"]+)"""".r
    // Files.list holds an OS directory handle until closed
    val listing = Files.list(srcDir)
    val declared =
      try listing.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(p => namePat.findAllMatchIn(
          new String(Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
        .toSeq
      finally listing.close()
    assert(declared.nonEmpty)
    assert(declared.distinct.sorted == declared.sorted,
      s"duplicate FunctionName constants: $declared")
    val listed = GraftFunctions.all.map(_._1)
    assert(listed.distinct.size == listed.size,
      s"duplicate inventory entries: $listed")
    assert(listed.sorted == declared.distinct.sorted,
      s"inventory drift — declared ${declared.sorted} vs listed ${listed.sorted}")
  }

  test("GraftFunctions.call registers on both the target and the " +
    "default session (analysis-time resolution can hit either)") {
    val target = spark.newSession()
    val name = BpeMergeStep.FunctionName
    GraftFunctions.call(target, name, BpeMergeStep.builder)(
      org.apache.spark.sql.functions.lit("x y"),
      org.apache.spark.sql.functions.lit("x"),
      org.apache.spark.sql.functions.lit("y"))
    assert(target.sessionState.functionRegistry.functionExists(
      FunctionIdentifier(name)))
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach { d =>
      assert(d.sessionState.functionRegistry.functionExists(
        FunctionIdentifier(name)))
    }
  }
}
