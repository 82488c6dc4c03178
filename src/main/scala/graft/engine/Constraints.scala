package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Declared + VERIFIED integrity constraints as warehouse sidecars, and the
  * semantic-optimization rewrites they license (join elimination, distinct
  * elimination — Paulley & Larson-style semantic query optimization, applied
  * the way everything else in this engine applies optimizer knowledge:
  * verified facts stored beside the relation, checked for currency at use).
  *
  * The reference declares constraints as dbt schema tests (`unique`,
  * `relationships` — dbt-utils schema.yml idiom, SURVEY §2 A1/J5) and uses
  * them only to FAIL runs. Here the verified fact additionally becomes
  * plan knowledge: a dimension key proved unique makes a lookup join to it
  * droppable when no dimension column is consumed; a child proved to
  * totally participate in a parent (no NULL keys, no orphans) makes even
  * an INNER lookup droppable. At 100 TB the eliminated join is the
  * cheapest join: the fact-side scan is the whole plan.
  *
  * Soundness discipline — verification is bound to STORAGE STATE: each
  * recorded constraint carries [[Warehouse.relationSignature]] of the
  * relation(s) it was verified against, and every consultation re-checks
  * the signature. A relation rewritten, appended to, or touched
  * out-of-band since verification silently downgrades to "not verified"
  * (the refusal path runs the real join) — stale constraint knowledge can
  * cost a join, never a wrong row. Verification itself RAISES on a
  * violated declaration, the dbt error-severity test contract.
  *
  * Sidecar format (`<name>__constraints`, one line per fact, replaced
  * key-wise on re-verification):
  * {{{
  *   key\t<cols,sorted>\t<relSig>
  *   fk_total\t<childCols,sorted>\t<parent>\t<parentCols,sorted>\t<childSig>\t<parentSig>
  * }}}
  */
object Constraints {

  private def metaName(rel: String): String = rel + "__constraints"

  private def norm(cols: Seq[String]): String = cols.sorted.mkString(",")

  private def putLine(wh: Warehouse, rel: String, lineKey: String,
      line: String): Unit = {
    val others = wh.getMeta(metaName(rel)).toSeq
      .flatMap(_.split("\n", -1)).filter(_.nonEmpty)
      .filterNot(_.startsWith(lineKey))
    wh.putMeta(metaName(rel), (others :+ line).mkString("\n"))
  }

  private def lines(wh: Warehouse, rel: String): Seq[String] =
    wh.getMeta(metaName(rel)).toSeq
      .flatMap(_.split("\n", -1)).filter(_.nonEmpty)

  /** Verify PRIMARY-KEY semantics on a stored relation (`cols` jointly
    * unique AND non-null — the A1 `unique` + `not_null` pair as one exact
    * pass) and record the fact bound to the relation's current storage
    * signature. One full scan with a map-side-combinable distinct count —
    * the same shape as the A1 generic test the reference runs, so
    * verification costs what the test the user already declared costs.
    * Raises on violation: a declared key that does not hold is a data
    * bug, not a planning preference.
    */
  def verifyKey(wh: Warehouse, rel: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "verifyKey: empty column list")
    val df = wh.read(rel)
    val row = df.agg(
      count(lit(1)).as("n"),
      countDistinct(cols.head, cols.tail: _*).as("nd"),
      sum(when(cols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))
        .as("nulls")).head()
    val (n, nd, nulls) = (row.getLong(0), row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2))
    require(nulls == 0L && n == nd,
      s"key constraint (${cols.mkString(",")}) violated on '$rel': " +
        s"$n rows, $nd distinct non-null tuples, $nulls with NULL parts")
    val sig = wh.relationSignature(rel).getOrElse(throw new IllegalStateException(
      s"'$rel' has no storage to sign — verify AFTER materialization"))
    putLine(wh, rel, s"key\t${norm(cols)}\t", s"key\t${norm(cols)}\t$sig")
  }

  /** Verify TOTAL participation of `child.childCols` in `parent.parentCols`
    * (zero NULL child keys, zero orphan keys — the dbt `relationships`
    * test strengthened by not-null, which is exactly the condition under
    * which an INNER lookup join drops no child rows) and record it bound
    * to BOTH sides' storage signatures. The orphan check runs on the
    * child's DISTINCT keys (key-grain, not row-grain) left-anti the
    * parent — the shape that broadcasts at 100 TB when the parent is a
    * dimension.
    */
  def verifyFkTotal(wh: Warehouse, child: String, childCols: Seq[String],
      parent: String, parentCols: Seq[String]): Unit = {
    require(childCols.nonEmpty && childCols.size == parentCols.size,
      "verifyFkTotal: column lists must be non-empty and same-length")
    val c = wh.read(child)
    val p = wh.read(parent)
    val nNull = c.filter(childCols.map(col(_).isNull).reduce(_ || _)).count()
    require(nNull == 0L,
      s"fk_total (${childCols.mkString(",")}) on '$child': $nNull rows " +
        "with NULL key parts")
    val childKeys = c.select(childCols.map(col): _*).distinct()
    val parentKeys = p.select(parentCols.zip(childCols)
      .map { case (pc, cc) => col(pc).as(cc) }: _*)
    val orphans = childKeys.join(parentKeys, childCols, "left_anti").count()
    require(orphans == 0L,
      s"fk_total '$child'(${childCols.mkString(",")}) -> " +
        s"'$parent'(${parentCols.mkString(",")}): $orphans orphan key(s)")
    val cs = wh.relationSignature(child).getOrElse(throw new IllegalStateException(
      s"'$child' has no storage to sign"))
    val ps = wh.relationSignature(parent).getOrElse(throw new IllegalStateException(
      s"'$parent' has no storage to sign"))
    putLine(wh, child,
      s"fk_total\t${norm(childCols)}\t$parent\t${norm(parentCols)}\t",
      s"fk_total\t${norm(childCols)}\t$parent\t${norm(parentCols)}\t$cs\t$ps")
  }

  /** O(batch) constraint-preserving APPEND — at 100 TB a full [[verifyKey]]
    * rescan after every batch is the thing that makes teams stop verifying;
    * this keeps the constraint CURRENT for the cost of the batch: the key
    * already holds on the stored relation (required — bound to its current
    * signature), so the appended union holds the key iff (1) the batch has
    * no NULL parts, (2) the batch is internally unique, and (3) no batch
    * key already exists in the store — checked as a key-grain left-semi
    * against the stored relation (the shape the bloom/stats sidecars
    * prune when present: the probe side is the batch, file skipping serves
    * it like any other key lookup). Only then does the batch land, and the
    * constraint re-records against the post-append listing — a crash
    * between append and re-record leaves a stale signature, which is the
    * refusal (safe) direction. Raises without appending on any violation.
    */
  def verifyKeyAppend(wh: Warehouse, rel: String, cols: Seq[String],
      batch: DataFrame): Unit = {
    require(cols.nonEmpty, "verifyKeyAppend: empty column list")
    require(verifiedKey(wh, rel, cols),
      s"verifyKeyAppend('$rel'): key (${cols.mkString(",")}) is not " +
        "verified-current on the stored relation — run verifyKey first")
    Pin.loan(batch.pinLazy()) { b =>
      val row = b.agg(
        count(lit(1)).as("n"),
        countDistinct(cols.head, cols.tail: _*).as("nd"),
        sum(when(cols.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))
          .as("nulls")).head()
      val (n, nd, nulls) = (row.getLong(0), row.getLong(1),
        if (row.isNullAt(2)) 0L else row.getLong(2))
      require(nulls == 0L && n == nd,
        s"verifyKeyAppend('$rel'): batch violates key " +
          s"(${cols.mkString(",")}): $n rows, $nd distinct non-null " +
          s"tuples, $nulls with NULL parts")
      val clash = b.select(cols.map(col): _*)
        .join(wh.read(rel).select(cols.map(col): _*), cols, "left_semi")
        .count()
      require(clash == 0L,
        s"verifyKeyAppend('$rel'): $clash batch key(s) already present")
      wh.append(rel, b)
      val sig = wh.relationSignature(rel).get
      putLine(wh, rel, s"key\t${norm(cols)}\t", s"key\t${norm(cols)}\t$sig")
    }
  }

  /** Is a key constraint on `cols` recorded for `rel` AND verified against
    * its CURRENT storage? Metadata-only: one sidecar read + one file
    * listing, no data touched.
    */
  def verifiedKey(wh: Warehouse, rel: String, cols: Seq[String]): Boolean =
    lines(wh, rel).exists { ln =>
      val p = ln.split("\t", -1)
      p.length == 3 && p(0) == "key" && p(1) == norm(cols) &&
        wh.relationSignature(rel).contains(p(2))
    }

  /** Is total participation recorded AND current on BOTH sides? A rewrite
    * of either relation since verification refuses.
    */
  def verifiedFkTotal(wh: Warehouse, child: String, childCols: Seq[String],
      parent: String, parentCols: Seq[String]): Boolean =
    lines(wh, child).exists { ln =>
      val p = ln.split("\t", -1)
      p.length == 6 && p(0) == "fk_total" && p(1) == norm(childCols) &&
        p(2) == parent && p(3) == norm(parentCols) &&
        wh.relationSignature(child).contains(p(4)) &&
        wh.relationSignature(parent).contains(p(5))
    }

  /** Post-hook form of [[verifyKey]] — verifies the just-materialized
    * relation, so the recorded signature is the one every later
    * consultation in this run (and the next, if nothing changes) sees.
    */
  def keyHook(cols: Seq[String]): Hook.Hook = ctx => {
    val model = ctx.model.getOrElse(throw new IllegalArgumentException(
      "keyHook is a MODEL hook — run-level contexts carry no relation"))
    verifyKey(ctx.wh, model, cols)
  }

  /** Post-hook form of [[verifyFkTotal]] on the just-materialized child;
    * the parent must already be materialized (declare it as a dep so DAG
    * order guarantees it).
    */
  def fkHook(childCols: Seq[String], parent: String,
      parentCols: Seq[String] = Nil): Hook.Hook = ctx => {
    val model = ctx.model.getOrElse(throw new IllegalArgumentException(
      "fkHook is a MODEL hook — run-level contexts carry no relation"))
    verifyFkTotal(ctx.wh, model, childCols, parent,
      if (parentCols.isEmpty) childCols else parentCols)
  }
}
