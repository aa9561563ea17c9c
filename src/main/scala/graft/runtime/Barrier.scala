package graft.runtime

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The one materialization policy of the operators and queries: where a
  * plan spreads its input, where it cuts its lineage, and how long the
  * frames it persists on the way stay cached.
  *
  * '''Spread.''' A single-file scan is ONE partition (one parquet row
  * group at bench SFs), so an operator whose per-row work is heavy
  * (shingle and minhash hashing, tokenizing, md5 grams, vector scoring,
  * a fixture's encode/decode) would run all of it on one core: two
  * >1 s single-task stages of `ExactSubstrDedup` at sf0.1 were exactly
  * that. [[spread]] adds one round-robin exchange to
  * `defaultParallelism` partitions before that work, which moves each
  * row once; it pays when the per-row work dwarfs the row's bytes, as
  * at every caller (most fixture rigs exchange one or two longs a row).
  * It spreads whatever the input's layout; an input already spread
  * pays one extra exchange.
  *
  * '''Persist.''' A persisted frame is a planner barrier as well as a
  * cache: CollapseProject cannot inline a projection through it, and
  * Catalyst does not eliminate common subexpressions inside lambda
  * bodies, so a `split` staged behind a persist is computed once
  * instead of once per lambda element (measured quadratic in document
  * length, 4x slower on minhash, without it). Persist through a
  * [[Scope]] from [[scoped]]: the scope unpersists what it persisted
  * when its body returns or throws, so a failed `require` or a killed
  * job leaves no frame in the session cache.
  *
  * '''Cut.''' [[cut]] materializes a frame now, into a leaf: an eager
  * local checkpoint. Inside a scope the body cuts its (small) result
  * last, so the persisted intermediates can be freed without a later
  * action recomputing through them. It also resets the lineage of an
  * iterative loop that references its previous round several times,
  * stops predicate pushdown from re-inlining expensive projections, and
  * keeps a frame that a plan references several times (a decoded image
  * hash) from being recomputed per reference. TRADEOFF: the checkpoint
  * blocks live in executor-local, non-replicated block-manager storage,
  * so on a multi-executor cluster a lost executor fails the query
  * instead of recomputing it. That is acceptable for the short-lived
  * results cut here; a long-lived result on a real cluster wants a
  * reliable checkpoint under `spark.checkpoint.dir` instead.
  */
object Barrier {

  /** `ds` round-robin repartitioned over `defaultParallelism` partitions. */
  def spread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** `ds` materialized now into executor-local checkpoint blocks. */
  def cut[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** The frames one [[scoped]] body persisted, in persist order. */
  final class Scope private[Barrier] () {
    private val held = ArrayBuffer.empty[Dataset[_]]

    /** `ds` persisted at the session's default storage level. */
    def persist[T](ds: Dataset[T]): Dataset[T] = hold(ds.persist())

    /** `ds` persisted at `level`. */
    def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
      hold(ds.persist(level))

    private def hold[T](ds: Dataset[T]): Dataset[T] = { held += ds; ds }

    private[Barrier] def release(): Unit = held.foreach(_.unpersist())
  }

  /** Runs `body` with a fresh [[Scope]] and unpersists every frame it
    * persisted through it, in persist order, when `body` returns or
    * throws. What `body` returns must not read those frames lazily:
    * return a [[cut]] frame or a driver-side value.
    */
  def scoped[A](body: Scope => A): A = {
    val b = new Scope
    try body(b) finally b.release()
  }
}
