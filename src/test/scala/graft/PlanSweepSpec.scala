package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

import graft.operators.DedupOps

/** Round-12 verdict #7: the bounded-relation-before-window family rule,
  * asserted STRUCTURALLY over every `SparkEntry.queries` plan instead of
  * query-by-query pins — so the rule survives future query additions
  * without anyone remembering to add a pin.
  *
  * A `Window` node passes when ANY of:
  *  1. its input is a BOUNDED relation — every leaf path passes through
  *     an Aggregate or a Limit, or ends in a literal/range/1-row leaf
  *     (cached relations are traced into their cached physical plan);
  *  2. its input chain (through Sort/Project) is a `WindowGroupLimit` —
  *     the rank-limit top-k shape, where every map task pre-prunes to k
  *     rows per key BEFORE the window exchange;
  *  3. its partition keys include a RankOps bounded-bin key (`gr_bin` /
  *     `gr_tid`) — the family's own ~group/nBins-row slice windows;
  *  4. the query is on the PER-ENTITY whitelist below AND the window is
  *     partitioned — lag/lead/sequence windows whose partition is a
  *     high-cardinality entity (user, query, customer, cluster), the
  *     documented distributed window shape. A whitelisted query still
  *     may not carry an UNPARTITIONED window over raw data.
  *
  * PERF.md "Round 12: hot-key skew evidence" measured why this rule exists: windows, not aggregations,
  * are where unbounded cardinality and skew bite (a window partition
  * sorts in ONE task; an aggregation combines map-side).
  */
class PlanSweepSpec extends SparkSpec {

  /** Per-entity windows: query → the entity whose activity bounds the
    * partition. Every entry was eyeballed in round 13; additions need the
    * same justification.
    */
  private val perEntity: Map[String, String] = Map(
    "attribution" -> "user journey (lag/first-purchase windows)",
    "events_asof" -> "user (as-of carry-forward)",
    "events_debounce" -> "user (lag suppression)",
    "events_ewma" -> "user (recursive smoothing scan)",
    "events_range_join" -> "user (interval sweep)",
    "events_sessions" -> "user (session gap lag + running id)",
    "events_transitions" -> "user (lag pairs)",
    "events_twap" -> "event_type x day calendar cell (interval weights)",
    "funnel_paths" -> "user / session (step sequence)",
    "entropy_rate" -> "user (lag pairs)",
    "event_burstiness" -> "user x event_type (interarrival lag)",
    "interarrival_hist" -> "user (interarrival lag)",
    "order_gap_survival" -> "customer (order gap lag)",
    "survival_logrank" -> "customer (first/next order lag)",
    "transition_entropy" -> "user (lag pairs)",
    "dedup_survivors" -> "near-dup cluster (survivor pick)",
    "knn_ndcg" -> "query id (per-query gain ranks)",
    "pack_sequences" -> "lang x salted shard (greedy packing scan)",
    "compaction_bins" -> "file partition (bin-packing scan)",
    "pipeline_full" -> "dedup cluster key (survivor pick)")

  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: GlobalLimit | _: LocalLimit => true
    case j: Join if j.joinType.sql == "LEFT SEMI" || j.joinType.sql == "LEFT ANTI" =>
      bounded(j.left)
    case l: LeafNode =>
      l match {
        case _: LocalRelation | _: OneRowRelation | _: Range => true
        case m: InMemoryRelation => boundedPhys(m.cachedPlan)
        case _ => false
      }
    case other if other.children.nonEmpty => other.children.forall(bounded)
    case _ => false
  }

  /** The same rule over a cached PHYSICAL plan (InMemoryRelation holds no
    * logical child).
    */
  private def boundedPhys(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => boundedPhys(a.inputPlan)
    case _: BaseAggregateExec => true
    case s: InMemoryTableScanExec => boundedPhys(s.relation.cachedPlan)
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case _: org.apache.spark.sql.execution.RangeExec => true
    case l if l.children.isEmpty => false
    case other => other.children.forall(boundedPhys)
  }

  /** Window → (Sort | Project)* → WindowGroupLimit: the top-k shape. */
  private def groupLimited(p: LogicalPlan): Boolean = p match {
    case _: WindowGroupLimit => true
    case s: Sort => groupLimited(s.child)
    case pr: Project => groupLimited(pr.child)
    case _ => false
  }

  private def rankBinKeyed(w: Window): Boolean =
    w.partitionSpec.exists(e =>
      e.references.exists(a => a.name == "gr_bin" || a.name == "gr_tid"))

  test("sweep: every window in every query rides a bounded, group-limited, bin-keyed, or per-entity relation") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    val usedWhitelist = scala.collection.mutable.Set.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val df =
        try SparkEntry.queries(name)(spark, TestSpark.sf0001)
        catch {
          case e: Throwable =>
            violations += s"$name: query construction failed: ${e.getMessage}"
            null
        }
      if (df != null) {
        df.queryExecution.optimizedPlan.foreach {
          case w: Window =>
            val structural = bounded(w.child) || groupLimited(w.child) || rankBinKeyed(w)
            val whitelisted = w.partitionSpec.nonEmpty && perEntity.contains(name)
            if (!structural && whitelisted) usedWhitelist += name
            if (!structural && !whitelisted)
              violations += s"$name: window part=[${w.partitionSpec.mkString(",")}] " +
                s"over unbounded input: ${w.child.nodeName}"
          case _ =>
        }
      }
    }
    DedupOps.releaseAllCaches()
    assert(names.size >= 244, s"sweep must cover the full query surface, saw ${names.size}")
    assert(violations.isEmpty, violations.mkString("\n", "\n", ""))
    // whitelist rot: an entry no plan needs anymore must be REMOVED, not
    // linger as a blanket exemption for future windows in that query
    val stale = perEntity.keySet -- usedWhitelist
    assert(stale.isEmpty,
      s"per-entity whitelist entries no longer needed (remove them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
