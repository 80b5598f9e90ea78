package graft.operators

import org.apache.spark.sql.Dataset

/** Materialization policy point for every lineage-truncation site in the
  * engine (iterative operators, model tables, landed batch frames).
  *
  * Why this exists: iterative dataflow (PageRank, connected components,
  * label propagation, k-core, HITS, BPE merges, k-means) doubles the
  * analyzed plan per round unless each round's result is materialized
  * with its lineage cut. `Dataset.localCheckpoint()` does that with
  * executor-local blocks — perfect in local mode, but on a real cluster
  * a lost executor takes its blocks with it, and a truncated plan has
  * nothing to recompute from: the job dies at iteration 18 of 20.
  * `Dataset.checkpoint()` writes the blocks to the (HDFS-grade)
  * checkpoint directory instead — executor loss just re-reads the files.
  *
  * Every operator calls [[materialize]] (usually via the
  * [[Iterate.MaterializeOps.materialized]] extension) instead of picking
  * one of the two primitives, and the choice is made ONCE, from config:
  *
  *   - reliable `checkpoint()` when `spark.graft.checkpoint.reliable=true`
  *     OR a SparkContext checkpoint dir is set (`sc.setCheckpointDir`) —
  *     the cluster posture;
  *   - `localCheckpoint()` otherwise — the local/bench posture, identical
  *     to the pre-seam behavior (zero plan or timing change);
  *   - `spark.graft.checkpoint.reliable=false` forces local mode even
  *     with a checkpoint dir set (e.g. a dir configured for streaming
  *     state on a session that also runs cheap local iteration).
  *
  * Both primitives run EAGERLY (the default for each), so call sites keep
  * the "each round executes now" semantics their loop-cost comments rely
  * on. Results are bitwise-identical across modes — the mode changes
  * where blocks LIVE, never what they contain — pinned by
  * IterateSpec (same hashes in both modes, plus a blocks-killed test
  * proving reliable mode survives what local mode cannot).
  *
  * == The fixpoint loop ==
  * Every iterative operator except HITS (PageRank, ConnectedComponents,
  * KCore, LabelPropagation, TreePaths, BpeTrainer) runs its rounds
  * through [[fixpoint]], which owns the whole loop contract:
  *
  *   - materialize: `init` and each round's `step` result are landed
  *     with [[materialize]] before the next round plans on them, so the
  *     plan stays one round deep instead of doubling per round;
  *   - release: a superseded state is [[release]]d once its successor
  *     has landed. The combinator created every state it releases, so
  *     it never frees a caller's blocks; an input the step reads (an
  *     edge list) stays the caller's to release after the loop;
  *   - stop, on the first of three rules: the `maxRounds` budget is
  *     spent; the caller's signature of the new state (CC's
  *     `(count, xor)` checksum, KCore's edge count) equals the previous
  *     state's, each state's signature computed once and carried
  *     forward; or `step` returns its input unchanged (`eq`), meaning no
  *     work is left, which runs no round and materializes nothing.
  *
  * The returned [[Iterate.Fixpoint]] says how many rounds ran and
  * whether a rule other than the budget stopped the loop.
  *
  * [[Hits]] keeps its own loop: each round lands two checkpoints (the
  * authority and hub sums) and the last round's PAIR is its result, so
  * moving it here would make the combinator branch on its caller.
  */
object Iterate {

  /** A finished [[fixpoint]] loop: the last landed state, the number of
    * rounds that produced a new state, and whether the signature or
    * `eq` rule (not the budget) stopped the loop.
    */
  final case class Fixpoint[T](result: Dataset[T], rounds: Int, converged: Boolean)

  /** Iterate `step` from `init` for at most `maxRounds` rounds with no
    * signature: only the budget and `eq` rules stop the loop.
    */
  def fixpoint[T](init: Dataset[T], maxRounds: Int)(
      step: Dataset[T] => Dataset[T]): Fixpoint[T] =
    // a fresh object per state never equals the previous one
    fixpoint(init, maxRounds, (_: Dataset[T]) => new Object)((s, _) => step(s))

  /** Iterate `step` from `init` for at most `maxRounds` rounds, also
    * stopping when `signature` repeats. `step` receives its input's
    * signature, so it can return its input when the signature already
    * shows a fixpoint (CC's empty edge set) and end the loop without a
    * round.
    */
  def fixpoint[T, S](init: Dataset[T], maxRounds: Int, signature: Dataset[T] => S)(
      step: (Dataset[T], S) => Dataset[T]): Fixpoint[T] = {
    var cur = materialize(init)
    var sig = signature(cur)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = step(cur, sig)
      if (next eq cur) converged = true
      else {
        val landed = materialize(next)
        release(cur)
        val nextSig = signature(landed)
        converged = nextSig == sig
        cur = landed
        sig = nextSig
        rounds += 1
      }
    }
    Fixpoint(cur, rounds, converged)
  }

  /** True when [[materialize]] will write reliable checkpoints. */
  def reliable(ds: Dataset[_]): Boolean = {
    val spark = ds.sparkSession
    spark.conf.getOption("spark.graft.checkpoint.reliable") match {
      case Some(v) => v.trim.equalsIgnoreCase("true")
      case None    => spark.sparkContext.getCheckpointDir.isDefined
    }
  }

  /** Eagerly materialize `ds` with lineage truncated, per the policy
    * above. Reliable mode requires a checkpoint dir; failing fast with
    * the remedy beats dying 18 iterations in.
    */
  def materialize[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds)) {
      if (ds.sparkSession.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          "spark.graft.checkpoint.reliable=true but no checkpoint dir is " +
            "set — call sc.setCheckpointDir(<fault-tolerant path>) first")
      ds.checkpoint()
    } else ds.localCheckpoint()

  /** Release the storage blocks behind a previously [[materialize]]d
    * dataset that NO live plan references anymore (an iterative loop's
    * superseded round, or an input whose final checkpoint has landed).
    *
    * Why: `localCheckpoint()` persists MEMORY_AND_DISK blocks that the
    * ContextCleaner only reclaims on a driver GC — a long-lived session
    * running many graph queries accumulates every round's blocks (§5
    * eviction pressure / disk fill). This walks the dataset's plan for
    * its checkpoint RDDs and unpersists them eagerly. Reliable
    * `checkpoint()` mode stores files, not blocks — unpersist there is
    * a harmless no-op, so call sites stay mode-agnostic.
    *
    * SAFETY: only call on datasets whose blocks cannot be re-read — a
    * localCheckpoint has truncated lineage, so a consumer executing
    * after release would fail, not recompute. The operators release
    * (a) each superseded iteration after the next one's checkpoint
    * lands, and (b) materialized INPUTS once the returned plan no
    * longer references them.
    */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `df.materialized` — chain-position replacement for
    * `df.localCheckpoint()` at all call sites.
    */
  implicit class MaterializeOps[T](private val ds: Dataset[T]) extends AnyVal {
    def materialized: Dataset[T] = Iterate.materialize(ds)
  }
}
