package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Distributed changelog planning for windows containing an
  * over-budget delete commit — the `t$changes` twin of
  * [[MorDeleteJoin]].
  *
  * Under the budget the scan surface collects each step's delete keys
  * once on the driver and ships them in the partition specs (cheap:
  * the masked re-read filter runs inside the reader, no extra joins).
  * Past the budget that collect would hold gigabytes of boxed keys on
  * the driver, so this rule swaps the relation for the batch feed's
  * plan ([[Changes.windowFrame]]), whose key frames stay DataFrames
  * end-to-end — and which drops its broadcast hints for over-budget
  * steps, so Catalyst/AQE plans shuffle joins sized to the data. A
  * user tailing one big DELETE commit gets a join, not a refusal.
  *
  * Labels: the batch feed always pairs same-commit mask+re-insert as
  * update_preimage/postimage; the scan surface only does so under the
  * `pair-updates` option. Without it, the pairing labels map back to
  * the raw changelog's delete/insert — the two label schemes partition
  * the same rows, so the surfaces stay exactly equal either way.
  *
  * Installed by [[graft.functions.GraftExtensions]] alongside
  * [[MorDeleteJoin]]. Streaming reads plan partitions directly (no
  * logical-plan rewrite point), so an over-budget step there still
  * refuses with a pointer here.
  */
object ChangelogDeleteJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case rel: DataSourceV2Relation => rel.table match {
      case ct: GraftChangesTable if windowOverBudget(ct, rel.options) =>
        rewrite(rel, ct)
      case _ => rel
    }
  }

  /** Memoized over-budget verdicts. Safe to cache indefinitely:
    * version documents are immutable once committed, so a resolved
    * (table, from, to) window's verdict never goes stale. Keyed WEAKLY
    * by store instance — different warehouses legitimately host
    * same-named tables (every test suite does) and must not share
    * verdicts; the entry dies with its store. Without this the rule
    * re-walked the window with loadVersion on EVERY optimizer fixpoint
    * iteration of every t$changes query (advice r8). Each store keeps
    * its 4096 most recently used windows. */
  private val memo = new java.util.WeakHashMap[AnyRef, graft.Lru[(String, Long, Long), Boolean]]()

  /** True iff some step in the requested window carries more live
    * delete-file bytes than the table's broadcast-class budget —
    * the exact condition under which the scan surface would refuse. */
  private def windowOverBudget(ct: GraftChangesTable,
                               options: CaseInsensitiveStringMap): Boolean = {
    val name = (ct.ns :+ ct.table).mkString(".")
    val fromV = ChangesTable.resolveStartVersion(ct.store, ct.ns, ct.table,
      options, name)
    val toV = ChangesTable.resolveEndVersion(ct.store, ct.ns, ct.table,
      options, name)
    val byWindow = memo.synchronized {
      memo.computeIfAbsent(ct.store, _ => new graft.Lru(bound = 4096))
    }
    val window = (name, fromV.toLong, toV.toLong)
    byWindow.get(window).getOrElse {
      val over = ((fromV + 1) to toV).exists { v =>
        val meta = ct.store.loadVersion(ct.ns, ct.table, v)
        val prev =
          if (v - 1 >= 1) Some(ct.store.loadVersion(ct.ns, ct.table, v - 1))
          else None
        ChangesTable.stepDiff(meta, prev).exists { diff =>
          (diff.newDeletes ++ diff.prevDeletes)
            .map(MergeOnRead.estBytes).sum >
            MergeOnRead.byteBudget(meta.properties)
        }
      }
      byWindow.put(window, over)
      over
    }
  }

  private def rewrite(rel: DataSourceV2Relation,
                      ct: GraftChangesTable): LogicalPlan = {
    val s = SparkSession.active
    val name = (ct.ns :+ ct.table).mkString(".")
    val fromV = ChangesTable.resolveStartVersion(ct.store, ct.ns, ct.table,
      rel.options, name)
    val toV = ChangesTable.resolveEndVersion(ct.store, ct.ns, ct.table,
      rel.options, name)
    val frame = Changes.windowFrame(s, ct.store, ct.ns, ct.table,
      fromV, Some(toV))
    val out =
      if (ChangesTable.pairUpdates(rel.options)) frame
      else frame.withColumn("_change_type",
        when(col("_change_type") === "update_preimage", lit("delete"))
          .when(col("_change_type") === "update_postimage", lit("insert"))
          .otherwise(col("_change_type")))
    // inject the OPTIMIZED subplan: the frame carries Deduplicate
    // (distinct) nodes whose optimizer rewrite to Aggregate already ran
    // for the outer plan — an analyzed subtree would reach physical
    // planning unrewritten and die. Nested optimization is safe here:
    // the frame reads raw parquet, never a changes relation, so this
    // rule cannot re-enter itself.
    val analyzed = out.queryExecution.optimizedPlan
    // re-expose under the relation's attribute ids so parent operators
    // keep resolving (same aliasing discipline as MorDeleteJoin)
    Project(rel.output.map { o =>
      val n = analyzed.output.find(_.name == o.name).getOrElse(
        throw new IllegalStateException(
          s"changelog rewrite of $name lost column ${o.name}"))
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata))
    }, analyzed)
  }
}
