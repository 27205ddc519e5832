// Dumps every catalog query's optimized logical plan and its oracle SQL
// to one text file, normalized so that the dumps of two source trees
// compare with one `diff`. A refactor that must keep every plan leaves
// that diff empty, apart from the known noise listed in
// .claude/skills/verify/SKILL.md.
//
// A spark-shell script; run it against the compiled classes of the tree
// to dump (`sbt compile` writes them to target/scala-2.13/classes), from
// a scratch directory, since some queries write files while they are
// built:
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
//   - expression ids (`name#123`, also lambda variables) are renumbered
//     in order of first appearance, so ids used up by earlier queries
//     do not shift later plans;
//   - generated lambda variable names (`x_17`), Scala lambda class
//     names (`$Lambda$1234/0x...@5e3f...`) and the identity hashes of
//     objects inside a plan (`TopKAgg@6a68e345`) are masked;
//   - spark.sql.debug.maxToStringFields is raised so no plan string is
//     truncated ("... 12 more fields"), which would hide a difference.

import java.io.PrintWriter

import scala.util.control.NonFatal

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

val planDumpWriter = new PrintWriter(planDumpOut, "UTF-8")
try {
  val oracle = graft.SparkEntry.oracleSql
  for ((name, build) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
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
