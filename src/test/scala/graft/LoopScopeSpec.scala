package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LoopScope

/** The dangling-layout strip of [[graft.ops.LoopScope.ckpt]] /
  * [[org.apache.spark.sql.graft.ColumnBridge.stripDanglingLayout]].
  *
  * The hazard under test (measured live on q90/q92/q144 before the
  * fix): under NON-adaptive execution `localCheckpoint` captures the
  * executed plan's real outputOrdering into the LogicalRDD; a step
  * whose sort-merge-join/window tail sorts by columns the final
  * projection drops or renames captures a SortOrder over
  * PRE-projection attributes, and a `persist()`ed descendant then
  * crashes later cache reuse in `InMemoryRelation.withOutput`
  * ("key not found", Spark 4.1.2 InMemoryRelation.scala:474).
  */
class LoopScopeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private def orderingOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.outputOrdering
      case p => fail(s"expected a LogicalRDD, got ${p.getClass}")
    }

  /** The hazard needs the non-adaptive planner: run `body` with AQE
    * off, restoring the session's previous setting afterwards. */
  private def nonAdaptive(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("ckpt keeps ordering references within the output; self-consistent ordering survives") {
    nonAdaptive {
      val a = (1L to 64L).map(i => (i % 8, i, i * 1.5)).toDF("k", "id", "v")
      val b = (1L to 64L).map(i => (i % 8, i * 2.0)).toDF("k", "w")
      // force a sort-merge join so the executed plan sorts by k, then
      // PROJECT k AWAY: the raw checkpoint would capture a SortOrder
      // over the dropped attribute
      val joined = a.join(b.hint("merge"), Seq("k"))
        .select(col("id"), (col("v") + col("w")).as("s"))
      val raw = joined.localCheckpoint(true)
      // (the physical ProjectExec already truncates this SIMPLE case's
      // ordering — the live q90/q92/q144 hazard needed the full
      // trainer/persist chain to surface, which the whole-suite gate
      // covers; this spec pins the INVARIANT the strip guarantees for
      // every checkpoint shape)
      val clean = LoopScope.ckpt(joined)
      val cleanOut = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        clean.queryExecution.analyzed.output)
      assert(orderingOf(clean).forall(_.references.subsetOf(cleanOut)))
      // rows untouched
      assert(clean.orderBy("id").collect().toSeq ==
        raw.orderBy("id").collect().toSeq)

      // a self-consistent ordering (sorted column kept in the output)
      // SURVIVES the strip — the claim is true and useful downstream
      val kept = a.join(b.hint("merge"), Seq("k"))
        .select(col("k"), col("id"))
      val keptC = LoopScope.ckpt(kept)
      val keptOut = org.apache.spark.sql.catalyst.expressions.AttributeSet(
        keptC.queryExecution.analyzed.output)
      val keptOrd = orderingOf(keptC)
      assert(keptOrd.nonEmpty && keptOrd.forall(_.references.subsetOf(keptOut)))
    }
  }

  test("persisted descendants of a stripped checkpoint survive cache reuse with fresh exprIds") {
    nonAdaptive {
      val a = (1L to 32L).map(i => (i % 4, i)).toDF("k", "id")
      val b = (1L to 32L).map(i => (i % 4, i * 3)).toDF("k", "m")
      // st's RAW checkpoint would carry the SMJ's dangling k-ordering
      // (asserted in the previous test); ckpt strips it
      val st = LoopScope.ckpt(a.join(b.hint("merge"), Seq("k"))
        .select(col("id"), col("m")))
      // persist a DESCENDANT, then evaluate a re-derivation: each
      // .as(...) mints fresh exprIds, so the canonical cache match
      // replaces the subtree via InMemoryRelation.withOutput — the
      // exact remap that threw "key not found" on a dangling ordering
      val x = st.select(col("id").as("id2"), col("m").as("m2")).persist()
      x.count()
      try {
        val y = st.select(col("id").as("id2"), col("m").as("m2"))
        assert(y.queryExecution.withCachedData.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
          "re-derivation did not hit the cache — the test stopped exercising withOutput")
        assert(y.count() == x.count())
      } finally x.unpersist(true); ()
    }
  }
}
