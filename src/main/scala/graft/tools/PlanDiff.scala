package graft.tools

import java.io.File
import java.nio.file.Files

/** Compare two directories of `DumpPlans` output cell by cell, after
  * normalising everything that differs between two runs of the same plan.
  * `dev/plan_diff.sh` dumps both commits and calls this.
  *
  * Usage: runMain graft.tools.PlanDiff <dirA> <dirB>
  *
  * Prints one line per cell (`same`, `DIFF` with the first differing
  * line of each side, or `only in a|b`) and a closing count.
  */
object PlanDiff {

  // each pattern with what it becomes: ids that Spark or the JVM hands out
  // in the order things were built, and names that carry a host's paths
  private val rules: Seq[(scala.util.matching.Regex, String)] = Seq(
    // expression ids: l_partkey#123L
    "#\\d+".r -> "#N",
    // file index roots, which name the data and warehouse dirs
    "(Location: \\w+ )\\[[^\\]]*\\]".r -> "$1[...]",
    // RDD ids: MapPartitionsRDD[42]
    "RDD\\[\\d+\\]".r -> "RDD[N]",
    // call sites: at localCheckpoint at Dedup.scala:123
    "(\\.scala):\\d+".r -> "$1:N",
    // Spark's global lambda-variable counter: x_11
    "\\b([xyz])_\\d+\\b".r -> "$1_N",
    // broadcast variable ids: Broadcast(94)
    "Broadcast\\(\\d+\\)".r -> "Broadcast(N)",
    // physical plan ids: [plan_id=57]
    "plan_id=\\d+".r -> "plan_id=N",
    // bucketed tables named by data dir hash and bucket count:
    // lineitem_bkt_1a2b3c_b32, events_tbkt_1a2b3c_b4
    "_(t?)bkt_[0-9a-zA-Z]+_b\\d+".r -> "_$1bkt_H_bN"
  )

  /** `plan` with every run-dependent id, path and counter replaced by a
    * fixed token, so two dumps of the same plan compare equal.
    */
  private[graft] def normalize(plan: String): String =
    rules.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) sys.error("usage: PlanDiff <dirA> <dirB>")
    val Seq(a, b) = args.toSeq.map(new File(_))
    def cells(d: File): Map[String, File] =
      Option(d.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".txt"))
        .map(f => f.getName.replaceAll("_[^_]*\\.txt$", "") -> f).toMap
    val (ca, cb) = (cells(a), cells(b))
    var differ = 0
    for (name <- (ca.keySet ++ cb.keySet).toSeq.sorted) (ca.get(name), cb.get(name)) match {
      case (Some(fa), Some(fb)) =>
        val la = normalize(Files.readString(fa.toPath)).split("\n")
        val lb = normalize(Files.readString(fb.toPath)).split("\n")
        if (la.sameElements(lb)) println(s"same    $name")
        else {
          differ += 1
          val i = la.zipAll(lb, "", "").indexWhere { case (x, y) => x != y }
          println(s"DIFF    $name (line ${i + 1})\n  a: ${la.lift(i).getOrElse("")}\n  b: ${lb.lift(i).getOrElse("")}")
        }
      case (Some(_), None) => differ += 1; println(s"only in a: $name")
      case _ => differ += 1; println(s"only in b: $name")
    }
    println(s"$differ of ${(ca.keySet ++ cb.keySet).size} cells differ")
  }
}
