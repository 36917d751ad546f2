package graft.tools

import org.apache.spark.sql.SparkSession

/** Registry-wide plan lint: walks every registered BATCH query's
  * optimized/physical plan and flags the anti-patterns that silently
  * stop scaling — the audit the round judges run by hand, automated.
  *
  *  - `global-window`: a logical Window with an EMPTY partition spec
  *    (`WindowExec: No Partition Defined` at execution — the whole
  *    input funnels through one task's sort). Acceptable only over
  *    grids bounded by a dimension or the calendar; every such site is
  *    pinned in ScalePatternSpec's allowlist.
  *  - `cartesian`: a CartesianProductExec — an unbounded all-pairs
  *    join. Acceptable only in brute-force ground-truth specs that
  *    exist to oracle an approximate operator, on a capped input.
  *  - `broadcast-unbounded`: an explicit broadcast() hint whose subtree
  *    reads a scale-factor-sized table with no PROVABLE cardinality
  *    bound (no Limit / ungrouped aggregate anywhere above the scan,
  *    i.e. `maxRows` undefined, and not a pure region/nation dimension
  *    read). A hint like this pins an O(n) frame into every executor at
  *    100× — the er3/q148 failure mode. Sites whose bound is real but
  *    not statically provable (grouping on a bounded dimension key,
  *    a planted-constant filter) are reviewed and pinned in
  *    ScalePatternSpec's allowlist with their bound.
  *  - `distinct-idempotent-agg`: an exact distinct whose consumer
  *    aggregates with only max/min — duplicate-idempotent, so the
  *    distinct buys nothing and shuffles the full keyspace (the q183
  *    r7 finding, generalized).
  *
  * BroadcastNestedLoopJoin is deliberately NOT flagged: every instance
  * in this repo is a `crossJoin(broadcast(<1-row aggregate>))` attach,
  * which is the designed scale pattern (the broadcast side is bounded
  * by construction), and the physical node cannot be distinguished
  * from a harmful one statically.
  *
  * Planning only — no query executes (streaming specs are excluded:
  * building one runs its stream to completion).
  *
  * Usage: runMain graft.tools.PlanLint [sfDir]
  */
object PlanLint {

  final case class Finding(query: String, kind: String, detail: String)

  /** Broadcast hints in `df`'s analyzed plan whose subtree reads a
    * scale-factor-sized table with no provable cardinality bound: the
    * hint survives planning as `ResolvedHint`, `maxRows` is the
    * planner's own bound proof (defined for Limit and ungrouped
    * aggregates), and region/nation are the constant-size dimensions
    * (5/25 rows at every SF). Returns one comma-joined risky-table list
    * per offending hint. */
  def broadcastRisks(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectWithSubqueries {
      case h: ResolvedHint
          if h.hints.strategy.contains(BROADCAST) && h.child.maxRows.isEmpty =>
        h.child.collectLeaves().flatMap {
          case l: LogicalRelation => l.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            case _ => Seq(l.relation.toString)
          }
          case _ => Nil // LocalRelation / Range: bounded literals
        }.distinct.sorted.filterNot(Set("region", "nation"))
    }.collect { case risky if risky.nonEmpty => risky.mkString(",") }
  }

  /** Exact-distinct feeding a duplicate-idempotent aggregate — the q183
    * shape: a pure-distinct Aggregate (grouping only, no aggregate
    * functions; `Distinct`/`dropDuplicates` both optimize to this) whose
    * consumer aggregates with ONLY max/min. Max/min ignore duplicates,
    * so the distinct changes nothing in the result while shuffling every
    * distinct key — the exact cost a bounded-state sketch exists to
    * avoid. (A distinct under count/sum is a legitimate two-phase
    * count-distinct and is NOT flagged.) Returns the consumer's grouping
    * columns per offending site. */
  def distinctIntoIdempotentAgg(
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, Max, Min}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LogicalPlan, Project}
    @annotation.tailrec
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => stripProjects(pr.child)
      case other => other
    }
    def pureDistinct(p: LogicalPlan): Boolean = p match {
      case d: Aggregate => d.aggregateExpressions.forall(
        _.collectFirst { case _: AggregateExpression => () }.isEmpty)
      case _ => false
    }
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case a: Aggregate =>
        val fns = a.aggregateExpressions.flatMap(_.collect {
          case ae: AggregateExpression => ae.aggregateFunction })
        val idempotentOnly = fns.nonEmpty && fns.forall {
          case _: Max | _: Min => true
          case _ => false
        }
        if (idempotentOnly && pureDistinct(stripProjects(a.child)))
          Some(a.groupingExpressions.flatMap(_.collectFirst {
            case n: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
              n.name
          }).mkString(","))
        else None
    }.flatten
  }

  /** Enum columns of the harness corpus with ≤10 distinct values at
    * EVERY scale factor. A window partitioned ONLY by these funnels
    * corpus/|enum| rows through each task's sort — the q209 round-9
    * hazard: correct and fast at sf0.1, a single-task bottleneck at
    * 100×. The per-group Ranks recipe (global range-partitioned
    * prefix/rank minus broadcast per-group offsets) is the replacement.
    * Sites whose per-group row count is bounded by construction (a
    * window over an already-aggregated calendar/dimension grid) are
    * pinned in ScalePatternSpec's allowlist with their bound. */
  private val LowCardCols = Set("event_type", "lang", "source", "op",
    "l_returnflag", "l_linestatus", "o_orderpriority", "o_orderstatus",
    "c_mktsegment", "r_name", "r_regionkey", "split")

  /** Windows whose partition spec references ONLY ≤10-cardinality enum
    * columns — name-based (an alias dodges it; the lint is a tripwire,
    * not a proof). Returns the partition column lists per site. */
  def lowCardWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: LWindow if w.partitionSpec.nonEmpty =>
        val refs = w.partitionSpec.flatMap(_.collect {
          case a: AttributeReference => a.name.toLowerCase
        }).distinct
        if (refs.nonEmpty && refs.forall(LowCardCols)) Some(refs.mkString(","))
        else None
    }.flatten
  }

  def lint(spark: SparkSession, dir: String,
      include: String => Boolean = _ => true): Seq[Finding] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !n.startsWith("st") && include(n) }
      .flatMap { case (name, fn) =>
        graft.Staging.scope(spark) {
          try {
            val df = fn(spark, dir)
            val wins = df.queryExecution.optimizedPlan.collectWithSubqueries {
              case w: LWindow if w.partitionSpec.isEmpty => w
            }.map(w => Finding(name, "global-window",
              w.windowExpressions.map(_.name).distinct.mkString(",")))
            val cart =
              if (df.queryExecution.executedPlan.toString
                  .contains("CartesianProduct"))
                Seq(Finding(name, "cartesian", ""))
              else Nil
            val bcast = broadcastRisks(df)
              .map(Finding(name, "broadcast-unbounded", _))
            val dist = distinctIntoIdempotentAgg(df)
              .map(Finding(name, "distinct-idempotent-agg", _))
            val lowCard = lowCardWindows(df)
              .map(Finding(name, "low-card-window", _))
            wins ++ cart ++ bcast ++ dist ++ lowCard
          } catch {
            case e: Throwable =>
              Seq(Finding(name, "error",
                Option(e.getMessage).getOrElse(e.toString).take(120)))
          }
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession(logLevel = "ERROR")
    val t0 = System.nanoTime()
    val findings = lint(spark, sfDir)
    findings.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, fs) =>
      println(s"[lint] $kind (${fs.size}):")
      fs.foreach(f => println(s"[lint]   ${f.query}  ${f.detail}"))
    }
    println(f"[lint] done: ${findings.size} findings over the batch " +
      f"registry in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
