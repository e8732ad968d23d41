package graft.operators

import graft.{Q, Views}

/** Recursive-CTE surface, wave 27 (round 6): Spark 4.1 ships
  * `WITH RECURSIVE` (pinned by RecursiveSpec), which
  * unlocks the hierarchy-query family SQL engines are expected to serve:
  * level-by-level tree walks and subtree rollups. The hierarchy is the
  * implicit binary tree over customer keys (parent = key DIV 2) — a
  * deterministic stand-in for an org/category/BOM table; in production
  * the parent column is real and the recursion text is identical.
  *
  * Scale: each recursion step is ONE hash join of the frontier against
  * the child table (Spark plans the loop as UnionLoop with the step
  * reused); depth is log₂(n) for this tree, so 15 M customers at the
  * 1000× tier is ~24 bounded joins, each shuffled on the key — the
  * standard distributed hierarchy walk, never a driver loop.
  *
  * Oracle: DuckDB runs its own WITH RECURSIVE on the same text modulo
  * dialect (DIV vs //); counts/keys are exact integers, rollups use the
  * dsum convention.
  */
object RecursiveOps {

  /** Level profile of the key hierarchy: depth of every customer under
    * root key 1, reported per level (count, min/max key). */
  val sqlRecursiveHierarchy = Q(
    "sql_recursive_hierarchy",
    """WITH RECURSIVE r AS (
      |  SELECT CAST(1 AS BIGINT) AS custkey, 1 AS depth
      |  UNION ALL
      |  SELECT c.c_custkey, r.depth + 1
      |  FROM customer c JOIN r ON c.c_custkey // 2 = r.custkey)
      |SELECT depth, COUNT(*) AS n,
      |  MIN(custkey) AS min_key, MAX(custkey) AS max_key
      |FROM r GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
    Views.register(s, dir)
    s.sql(
      """WITH RECURSIVE r AS (
        |  SELECT CAST(1 AS BIGINT) AS custkey, 1 AS depth
        |  UNION ALL
        |  SELECT c.c_custkey, r.depth + 1
        |  FROM customer c JOIN r ON c.c_custkey DIV 2 = r.custkey)
        |SELECT depth, COUNT(*) AS n,
        |  MIN(custkey) AS min_key, MAX(custkey) AS max_key
        |FROM r GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** Subtree rollup (the BOM / org-chart aggregation): for each of the
    * roots 2..5, the descendant count and total account balance of its
    * entire subtree. */
  val sqlRecursiveRollup = Q(
    "sql_recursive_rollup",
    """WITH RECURSIVE r AS (
      |  SELECT c_custkey AS root, c_custkey AS custkey, c_acctbal
      |  FROM customer WHERE c_custkey IN (2, 3, 4, 5)
      |  UNION ALL
      |  SELECT r.root, c.c_custkey, c.c_acctbal
      |  FROM customer c JOIN r ON c.c_custkey // 2 = r.custkey)
      |SELECT root, COUNT(*) AS n_nodes,
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
      |    AS subtree_bal
      |FROM r GROUP BY root ORDER BY root""".stripMargin) { (s, dir) =>
    Views.register(s, dir)
    s.sql(
      """WITH RECURSIVE r AS (
        |  SELECT c_custkey AS root, c_custkey AS custkey, c_acctbal
        |  FROM customer WHERE c_custkey IN (2, 3, 4, 5)
        |  UNION ALL
        |  SELECT r.root, c.c_custkey, c.c_acctbal
        |  FROM customer c JOIN r ON c.c_custkey DIV 2 = r.custkey)
        |SELECT root, COUNT(*) AS n_nodes,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS subtree_bal
        |FROM r GROUP BY root ORDER BY root""".stripMargin)
  }

  val all: Seq[Q] = Seq(sqlRecursiveHierarchy, sqlRecursiveRollup)
}
