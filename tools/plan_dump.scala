// Dumps every catalog query's optimized logical plan and its oracle SQL
// to one text file, normalized so that the dumps of two source trees
// compare with one `diff`: two dumps of one tree are byte-identical, and
// a refactor that must keep every plan leaves that diff empty.
//
// A spark-shell script; run it against the compiled classes of the tree
// to dump (`sbt compile` writes them to target/scala-2.13/classes), from
// a scratch directory, since some queries write files while they are
// built. The master must be local[2] (the script stops otherwise): a
// Range's split count follows the default parallelism, so dumps taken
// at other masters would differ in queries that read a range.
//
//   spark-shell --master local[2] \
//     --driver-class-path <tree>/target/scala-2.13/classes \
//     --conf spark.sql.extensions=graft.plans.GraftExtensions \
//     --conf spark.sql.catalogImplementation=in-memory \
//     --conf spark.ui.enabled=false \
//     --conf spark.graft.dump.sf=<corpus dir, e.g. testdata sf0.001> \
//     --conf spark.graft.dump.out=<output file> \
//     -i <tree>/tools/plan_dump.scala
//
// The script is ASCII-only: the REPL reads it in the platform charset.
//
// Normalizations, applied per query:
//   - each query is built with the expression-id counter moved to its
//     own fixed base (its index in the sorted catalog), so the ids it
//     gets do not depend on how many ids earlier queries used. Catalyst
//     orders some lists by the hash of an id set: a distinct
//     aggregate's Expand projections and their group ids follow
//     exprId values, and would reorder whenever an earlier query's
//     plan changed;
//   - expression ids (`name#123`, also lambda variables) are then
//     renumbered in order of first appearance;
//   - generated lambda variable names (`x_17`), Scala lambda class
//     names (`$Lambda$1234/0x...@5e3f...`) and the identity hashes of
//     objects inside a plan (`TopKAgg@6a68e345`) are masked;
//   - spark.sql.debug.maxToStringFields is raised so no plan string is
//     truncated ("... 12 more fields"), which would hide a difference.

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

if (spark.sparkContext.master != "local[2]") {
  Console.err.println(
    s"[plan_dump] run with --master local[2], not ${spark.sparkContext.master}")
  System.exit(2)
}

spark.conf.set("spark.sql.session.timeZone", "UTC")
spark.conf.set("spark.sql.debug.maxToStringFields", "100000")

val planDumpSf = spark.conf.get("spark.graft.dump.sf")
val planDumpOut = spark.conf.get("spark.graft.dump.out")

def normalizePlan(plan: String): String = {
  val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
  val renumbered = "#(\\d+)".r.replaceAllIn(plan,
    m => "#" + ids.getOrElseUpdate(m.group(1), ids.size))
  val lambdaVars = "\\b(lambda [a-z]+)_\\d+\\b".r
    .replaceAllIn(renumbered, m => m.group(1) + "_N")
  val lambdaClasses = "\\$Lambda[$/0-9a-zA-Z]*@[0-9a-f]+".r
    .replaceAllIn(lambdaVars, _ => "\\$Lambda@N")
  "(?<=[\\w$])@[0-9a-f]{1,8}\\b".r.replaceAllIn(lambdaClasses, _ => "@N")
}

// the counter NamedExpression.newExprId draws from
val exprIdCounter = {
  val module = org.apache.spark.sql.catalyst.expressions.NamedExpression
  val field = module.getClass.getDeclaredField("curId")
  field.setAccessible(true)
  field.get(module).asInstanceOf[AtomicLong]
}

val planDumpWriter = new PrintWriter(planDumpOut, "UTF-8")
try {
  val oracle = graft.SparkEntry.oracleSql
  val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  for (((name, build), i) <- ordered.zipWithIndex) {
    // above every id used so far, and 1e8 ids apart per query
    exprIdCounter.set(1000000000000L + i * 100000000L)
    val plan =
      try normalizePlan(build(spark, planDumpSf).queryExecution.optimizedPlan.toString)
      catch { case NonFatal(e) => s"FAILED: ${e.getClass.getName}: ${e.getMessage}" }
    planDumpWriter.println(s"=== $name")
    planDumpWriter.println(plan)
    planDumpWriter.println(s"--- oracle $name")
    planDumpWriter.println(oracle.getOrElse(name, "(none)"))
  }
} finally planDumpWriter.close()
println(s"[plan_dump] wrote $planDumpOut")
System.exit(0)
