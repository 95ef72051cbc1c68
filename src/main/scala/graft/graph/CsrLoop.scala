package graft.graph

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The broadcast-vector fixpoint over [[Csr.Blocks]], written once for
  * the four CSR kernels ([[ConnectedComponents.csrLabels]],
  * [[ShortestPaths.csrBfs]], [[PageRank.convergedCsr]],
  * [[Coreness.csrCoreness]]). A [[Kernel]] supplies the stop rule, the
  * part of the state a block step reads, the block step and the fold;
  * [[run]] decides where the rounds execute from the blocks' partition
  * count:
  *
  *  - one partition: the whole loop runs inside ONE Spark task, which
  *    returns the final state — one job for any number of rounds (on a
  *    one-block graph a round's kernel work is far below a job's fixed
  *    scheduling cost);
  *  - several partitions: one job per round — broadcast what the step
  *    reads, map the blocks, collect, fold on the driver.
  *
  * Both paths call the same step and fold in the same order (the fold
  * sees the blocks' updates in partition order), so their states are
  * identical round by round.
  */
private[graph] object CsrLoop {
  type Block = (Array[Int], Array[Int], Array[Int])

  /** One fixpoint. `S` is the loop state — its arrays live on the driver
    * (several partitions) or in the loop's task (one partition), so a
    * kernel keeps only scalars: it ships with every round's task. `M` is
    * what a block step reads of the state, `U` one block's update.
    */
  trait Kernel[S, M, U] extends Serializable {
    /** Whether another round is needed; checked before every round. */
    def pending(s: S): Boolean
    /** What the round's block steps read (the round's broadcast). */
    def message(s: S): M
    /** One block's update. Reads `m` only, so every block of a round
      * sees the pre-round state (Jacobi), however the rounds run.
      */
    def step(m: M, block: Block): U
    /** Apply one round's block updates, in partition order, to `s`. */
    def fold(s: S, ups: Array[U]): Unit
  }

  /** The final state, the rounds run and whether the stop rule held. */
  final case class Result[S](state: S, rounds: Int, converged: Boolean)

  /** Run `k` from `init` for at most `maxIter` rounds. `init` travels
    * in the one-task path's closure, which each task attempt
    * deserializes afresh, so a retried task restarts from `init`.
    */
  def run[S, M: ClassTag, U: ClassTag](blocks: Csr.Blocks,
      k: Kernel[S, M, U], init: S, maxIter: Int): Result[S] = {
    val csr = blocks.rdd
    if (csr.getNumPartitions == 1)
      csr.mapPartitions { it =>
        val local = it.toArray
        Iterator(loop(k, init, maxIter)(m => local.map(k.step(m, _))))
      }.collect().head
    else {
      val sc = csr.sparkContext
      loop(k, init, maxIter) { m =>
        val bc = sc.broadcast(m)
        try csr.map(b => k.step(bc.value, b)).collect()
        finally bc.destroy()
      }
    }
  }

  private def loop[S, M, U](k: Kernel[S, M, U], s: S, maxIter: Int)(
      steps: M => Array[U]): Result[S] = {
    var rounds = 0
    while (k.pending(s) && rounds < maxIter) {
      k.fold(s, steps(k.message(s)))
      rounds += 1
    }
    Result(s, rounds, !k.pending(s))
  }

  /** The loop's output as `(idCol, valueCol)` rows: for every slot, from
    * the partition holding it as a src, `(ids(slot), v)` for each `v` in
    * `row(ids, state, slot)`, then `extra`. `state` and the id dictionary
    * travel as one broadcast; the frame is materialized (one job) before
    * the broadcast is freed.
    */
  def emit[V, T: TypeTag](spark: SparkSession, blocks: Csr.Blocks, state: V,
      idCol: String, valueCol: String, extra: Seq[(Long, T)] = Nil)(
      row: (Array[Long], V, Int) => Option[T]): DataFrame = {
    import spark.implicits._
    val csr = blocks.rdd
    val bc = csr.sparkContext.broadcast((blocks.ids, state))
    try {
      val rows = csr.mapPartitions { it =>
        val (ids, s) = bc.value
        it.flatMap { case (vsA, _, _) =>
          vsA.iterator.flatMap(v => row(ids, s, v).map(x => (ids(v), x)))
        }
      }.toDF(idCol, valueCol)
      (if (extra.isEmpty) rows else rows.union(extra.toDF(idCol, valueCol)))
        .localCheckpoint(true)
    } finally bc.destroy()
  }
}
