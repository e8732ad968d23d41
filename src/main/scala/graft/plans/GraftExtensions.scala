package graft.plans

import org.apache.spark.sql.{GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType

import graft.functions.CosineSimilarity

/** SURVEY §4.3: the SparkSessionExtensions seam.
  *
  * Wired by `graft.GraftSession.builder`, which every session of the
  * engine (mains, probes, tests) starts from. Injection points
  * intentionally live here rather than ad hoc at call sites.
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new SimilarityRewrite(session))
    ext.injectOptimizerRule(session => new DistinctBitmapRewrite(session))
    // Plan-time-materialized dim arms (graft.Dims): broadcast builds over
    // driver-held rows run zero jobs (see plans/LocalDim.scala).
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.execution.graft.LocalDimStrategy)
    // Filter comparison constants read from `references`, so one plan
    // shape compiles once whatever its bounds (plans/HoistFilterLiterals).
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = HoistFilterLiterals
    })
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      graft.functions.CosineSimilarity.info,
      graft.functions.CosineSimilarity.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_product"),
      graft.functions.DotProduct.info,
      graft.functions.DotProduct.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("sorted_intersect_count"),
      graft.functions.SortedIntersectCount.info,
      graft.functions.SortedIntersectCount.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      graft.functions.SimHash64.info,
      graft.functions.SimHash64.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash31"),
      graft.functions.RollingHash31.info,
      graft.functions.RollingHash31.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("topk_agg"),
      graft.functions.TopKAgg.info,
      graft.functions.TopKAgg.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("topk_row_agg"),
      graft.functions.TopKRowAgg.info,
      graft.functions.TopKRowAgg.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("pq_codes"),
      graft.functions.PqCodes.info,
      graft.functions.PqCodes.builder))
    ext.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("nearest_centroid"),
      graft.functions.NearestCentroid.info,
      graft.functions.NearestCentroid.builder))
  }
}

/** Optimizer rule: brute-force cosine top-k pair join → SRP-LSH candidate
  * join above a size threshold.
  *
  * Recognizes the O(n²) shape a user writes naively —
  * {{{
  *   a.join(b, a("id") < b("id"))                 // all-pairs
  *    .select(..., cosine_sim(va, vb) as "sim")
  *    .orderBy($"sim".desc, ...).limit(k)
  * }}}
  * i.e. `GlobalLimit(k, LocalLimit(k, Sort(sim DESC, Project(Join(_, _,
  * Inner, a.id < b.id)))))` with both join inputs projecting the same base
  * relation — and, when the base relation's estimated size exceeds
  * `spark.graft.similarity.rewrite.sizeThreshold` (default 8 GiB), replaces
  * it with the banded SRP-LSH candidate pipeline (AnnOps.lshTopKPairs):
  * bucketed equi-join + exact cosine re-rank instead of an all-pairs join.
  *
  * The rewrite is APPROXIMATE (LSH recall < 1), which is exactly the trade
  * the threshold encodes: below it the exact plan is cheap and kept
  * verbatim; above it the all-pairs join is a scale-killer and the
  * candidate join is the only plan that finishes. Output attribute ids and
  * names are preserved via a final aliasing Project, so references above
  * the rewritten subtree stay valid. Disable with
  * `spark.graft.similarity.rewrite.enabled=false`.
  *
  * Safety gates (round-3, per ADVICE r2):
  *  - the size estimate must be TRUSTWORTHY: plans without computable
  *    stats (LogicalRDD from createDataFrame, etc.) report the
  *    `spark.sql.defaultSizeInBytes` sentinel (Long.MaxValue by default),
  *    which would silently rewrite tiny in-memory data — the rule skips
  *    when sizeInBytes equals that sentinel;
  *  - the sort key must be the `round(cosine_sim(·,·), 6)` shape the LSH
  *    pipeline actually emits (a bare cosine projection would silently
  *    return rounded values), and the projected sim output must be that
  *    same rounded expression;
  *  - the ORIGINAL Sort (all keys, null ordering included) is re-applied
  *    on top of the spliced k-row LSH result, so secondary tie-break keys
  *    like `orderBy(sim.desc, b_id, a_id)` order the output exactly as
  *    the user wrote — only LSH recall remains approximate.
  *
  * Idempotent by construction: the LSH pipeline's own top-k sort sits over
  * an EQUI-join on (band, bucket) (the `a_id < b_id` there is a Filter, not
  * the join condition), so the rewritten subtree can never re-match.
  */
class SimilarityRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    session.conf.get("spark.graft.similarity.rewrite.enabled", "true").toBoolean
  private def sizeThreshold: BigInt =
    BigInt(session.conf.get("spark.graft.similarity.rewrite.sizeThreshold",
      (8L << 30).toString))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case gl @ GlobalLimit(Literal(k: Int, IntegerType),
          LocalLimit(_, sort: Sort)) if sort.global =>
        rewrite(k, sort).getOrElse(gl)
    }

  /** Strip the expression an attribute stands for through one Project. */
  private def dealias(e: Expression, projects: Seq[NamedExpression]): Expression =
    e match {
      case ar: AttributeReference =>
        projects.collectFirst {
          case a: Alias if a.exprId == ar.exprId => a.child
        }.getOrElse(ar)
      case other => other
    }

  /** From one join input, find (base plan, id column name, vector column
    * name) — tolerating alias-only Projects column pruning inserts. */
  private def sideInfo(side: LogicalPlan, id: AttributeReference,
      vec: AttributeReference): Option[(LogicalPlan, String, String)] = {
    def resolveThrough(p: LogicalPlan, idE: Expression, vecE: Expression)
        : Option[(LogicalPlan, String, String)] = p match {
      case Project(list, child) =>
        val idR = dealias(idE, list)
        val vecR = dealias(vecE, list)
        resolveThrough(child, idR, vecR)
      case base =>
        (idE, vecE) match {
          case (i: AttributeReference, v: AttributeReference)
              if base.outputSet.contains(i) && base.outputSet.contains(v) =>
            Some((base, i.name, v.name))
          case _ => None
        }
    }
    resolveThrough(side, id, vec)
  }

  /** True when the plan's sizeInBytes is the untrustworthy
    * `spark.sql.defaultSizeInBytes` fallback (plans with no computable
    * stats — LogicalRDD, non-file leaves — all report exactly this
    * sentinel). Rewriting on the sentinel would turn an exact top-k over
    * a tiny in-memory dataset into approximate LSH results. */
  private def statsUntrusted(size: BigInt): Boolean =
    size == BigInt(session.sessionState.conf.defaultSizeInBytes)

  private def rewrite(k: Int, sort: Sort): Option[LogicalPlan] = {
    val head = sort.order.head
    if (head.direction != Descending) return None
    sort.child match {
      case proj @ Project(projList,
          Join(jl, jr, Inner, Some(LessThan(la: AttributeReference,
            ra: AttributeReference)), _))
          if jl.outputSet.contains(la) && jr.outputSet.contains(ra) =>
        // The sort key must be round(cosine_sim(·,·), 6) — the exact
        // expression lshTopKPairs emits. A bare (unrounded) cosine is NOT
        // matched: the spliced plan could only return rounded values for
        // a column the user projected unrounded.
        val simExpr = dealias(head.child, projList)
        val cos = simExpr match {
          case Round(c: CosineSimilarity, Literal(6, IntegerType), _) => Some(c)
          case _ => None
        }
        cos match {
          case Some(CosineSimilarity(ca: AttributeReference,
              cb: AttributeReference))
              if jl.outputSet.contains(ca) && jr.outputSet.contains(cb) =>
            for {
              (lBase, lId, lVec) <- sideInfo(jl, la, ca)
              (rBase, rId, rVec) <- sideInfo(jr, ra, cb)
              if lBase.canonicalized == rBase.canonicalized
              if lId == rId && lVec == rVec
              if !statsUntrusted(lBase.stats.sizeInBytes)
              if lBase.stats.sizeInBytes > sizeThreshold
              roles <- outputRoles(projList, la, ra, ca, cb)
            } yield {
              val emb = GraftSqlBridge.ofRows(session, lBase)
                .select(col(lId).as("vec_id"), col(lVec).as("embedding"))
              val lsh = graft.operators.AnnOps.lshTopKPairs(session, emb, k)
              // The spliced subtree re-enters the optimizer HERE because the
              // outer run has already passed the batches that normalize it
              // (e.g. Deduplicate → Aggregate, without which physical
              // planning fails). Re-entrant execute on a fresh tree is safe;
              // this rule can't re-match the LSH shape (equi-join).
              val lshPlan = session.sessionState.optimizer
                .execute(GraftSqlBridge.analyzed(lsh))
              val byName = lshPlan.output.map(a => a.name -> a).toMap
              // Preserve the original output attribute names AND exprIds so
              // any references above the rewritten subtree stay bound.
              val aliased = Project(proj.output.zip(roles).map { case (o, role) =>
                Alias(byName(role), o.name)(exprId = o.exprId)
              }, lshPlan)
              // Re-apply the ORIGINAL Sort (secondary keys + null ordering
              // included) over the k-row LSH result: its order expressions
              // reference proj.output exprIds, which `aliased` preserves.
              // Cost is a k-row sort; benefit is the user's exact ordering.
              Sort(sort.order, global = true, aliased)
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** Map each projected output to its LSH-result column: the left join key
    * → a_id, right → b_id, the rounded cosine → sim. The sim output must
    * be the exact round(cosine_sim, 6) shape over the same attributes —
    * anything else (incl. a bare cosine projected alongside a rounded sort
    * key) bails. Bail on any other output too (the rewrite must reproduce
    * the full schema). */
  private def outputRoles(projList: Seq[NamedExpression],
      la: AttributeReference, ra: AttributeReference,
      ca: AttributeReference, cb: AttributeReference): Option[Seq[String]] = {
    val roles = projList.map { ne =>
      val e = ne match { case a: Alias => a.child; case other => other }
      e match {
        case ar: AttributeReference if ar.exprId == la.exprId => Some("a_id")
        case ar: AttributeReference if ar.exprId == ra.exprId => Some("b_id")
        case Round(CosineSimilarity(x: AttributeReference,
            y: AttributeReference), Literal(6, IntegerType), _)
            if x.exprId == ca.exprId && y.exprId == cb.exprId => Some("sim")
        case other if other.exists(_.isInstanceOf[CosineSimilarity]) => None
        case _ => None
      }
    }
    if (roles.forall(_.isDefined)) Some(roles.flatten) else None
  }
}

/** Optimizer rule: exact per-group COUNT(DISTINCT intcol) → bitmap-bucket
  * two-level aggregate above a size threshold.
  *
  * Spark executes grouped count-distinct by keeping every distinct
  * (group, value) pair alive through the first aggregate — per-group state
  * proportional to the distinct count. The bitmap plan
  * (`agg_bitmap_distinct`'s shape) replaces that with FIXED-SIZE mergeable
  * state: group by (keys, bitmap_bucket_number(v)), build a 4 KB bucket
  * bitmap via bitmap_construct_agg, then sum bitmap_count per key — the
  * shuffle carries bitmap blobs, never value rows.
  *
  * EXACT for every long (verified empirically this session: negatives map
  * to bucket ≤ 0 / position |v| — the (bucket, position) pair is injective
  * over the full domain; NULLs are ignored by both spellings).
  *
  * Safety gates (same discipline as [[SimilarityRewrite]]):
  *  - only fires on an Aggregate whose output is grouping attributes plus
  *    EXACTLY ONE unfiltered COUNT(DISTINCT c) with c an integral
  *    attribute — anything else (mixed aggregates, expressions over the
  *    count, multiple distincts) is left untouched;
  *  - grouping expressions must be plain attributes with distinct names
  *    (the DataFrame re-spelling addresses columns by name);
  *  - the child's sizeInBytes must be trustworthy (not the
  *    defaultSizeInBytes sentinel) and above
  *    `spark.graft.distinct.rewrite.sizeThreshold` (default 1 GiB);
  *  - output attribute names AND exprIds are preserved via an aliasing
  *    Project, and the spliced subtree is re-run through the optimizer.
  *
  * Idempotent: the rewritten subtree aggregates bitmap_count sums — no
  * COUNT(DISTINCT) remains to re-match. Disable with
  * `spark.graft.distinct.rewrite.enabled=false`.
  */
class DistinctBitmapRewrite(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
  import org.apache.spark.sql.functions.{coalesce, sum => fsum, lit, expr => fexpr}
  import org.apache.spark.sql.types.{ByteType, IntegerType => IntT, LongType, ShortType}

  private def enabled: Boolean =
    session.conf.get("spark.graft.distinct.rewrite.enabled", "true").toBoolean
  private def sizeThreshold: BigInt =
    BigInt(session.conf.get("spark.graft.distinct.rewrite.sizeThreshold",
      (1L << 30).toString))
  private def statsUntrusted(size: BigInt): Boolean =
    size == BigInt(session.sessionState.conf.defaultSizeInBytes)

  private def integral(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == ByteType || dt == ShortType || dt == IntT || dt == LongType

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformDown {
      case agg @ Aggregate(groupingExprs, resultExprs, child, _)
          if groupingExprs.forall(_.isInstanceOf[AttributeReference]) =>
        rewrite(agg, groupingExprs.map(_.asInstanceOf[AttributeReference]),
          resultExprs, child).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, groups: Seq[AttributeReference],
      resultExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    // Split outputs: grouping attrs pass through, everything else must be
    // the single count-distinct alias.
    val groupIds = groups.map(_.exprId).toSet
    val aggs = resultExprs.filterNot {
      case ar: AttributeReference => groupIds.contains(ar.exprId)
      case _ => false
    }
    val cd = aggs match {
      case Seq(al @ Alias(AggregateExpression(
          Count(Seq(c: AttributeReference)), _, true, None, _), _))
          if integral(c.dataType) && child.outputSet.contains(c) =>
        Some((al, c))
      case _ => None
    }
    cd.flatMap { case (al, c) =>
      // The DataFrame re-spelling resolves columns BY NAME over the whole
      // child output: every child output name must be unique (a duplicate
      // anywhere — not just among the referenced columns — would make
      // analysis of the spliced subtree ambiguous), and none may collide
      // with the rewrite's reserved internal names.
      val childNames = child.output.map(_.name)
      val reserved = Set("__bucket", "__bm", "__cnt")
      // Name-syntax gate: the re-spelling goes through the string API
      // (col / fexpr), where '.' parses as field access and a literal '`'
      // breaks backtick quoting — bail out (keep the original Aggregate)
      // rather than mis-resolve the spliced subtree.
      val involved = groups.map(_.name) :+ c.name
      if (childNames.distinct.size != childNames.size ||
        childNames.exists(reserved) ||
        involved.exists(n => n.contains(".") || n.contains("`"))) None
      else if (statsUntrusted(child.stats.sizeInBytes) ||
        child.stats.sizeInBytes <= sizeThreshold) None
      else {
        val df = GraftSqlBridge.ofRows(session, child)
        // Backtick-quoted (the gate above rejects names containing '`' or
        // '.'), so names with other special characters resolve literally.
        val gCols = groups.map(g => col(s"`${g.name}`"))
        val bucketed = df
          .groupBy((gCols :+ fexpr(s"bitmap_bucket_number(`${c.name}`)")
            .as("__bucket")): _*)
          .agg(fexpr(s"bitmap_construct_agg(bitmap_bit_position(`${c.name}`))")
            .as("__bm"))
          .groupBy(gCols: _*)
          .agg(coalesce(fsum(fexpr("bitmap_count(__bm)")), lit(0L))
            .as("__cnt"))
        val spliced = session.sessionState.optimizer
          .execute(GraftSqlBridge.analyzed(bucketed))
        val byName = spliced.output.map(a => a.name -> a).toMap
        // resultExprs can only hold grouping attrs or the verified single
        // count alias at this point (the aggs match above guarantees it).
        val aliased = Project(resultExprs.map { ne =>
          val src = ne match {
            case ar: AttributeReference => byName(ar.name)
            case _ => byName("__cnt")
          }
          Alias(src, ne.name)(exprId = ne.exprId)
        }, spliced)
        Some(aliased)
      }
    }
  }
}
