package graft.graph

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.FrameBridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

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

  /** The loop's output as `(idCol, valueCol)` rows, `valueCol` a long or
    * a double column as `T` is: for every slot, from the block holding it
    * as a src, `(ids(slot), v)` for the `v` of `row(ids, state, slot)`.
    * `state` and the id dictionary travel as one broadcast, and one job
    * packs each block's rows into two primitive arrays (ids and value
    * bits) and collects them before that broadcast is freed; each packed
    * block is then broadcast on its own. The frame expands block i's rows
    * in partition i on read and is declared hash-partitioned on `idCol`
    * into the blocks' partition count — true, as slot block i holds
    * exactly the srcs [[Graph]]'s build hashed to partition i — so a
    * one-block result counts, and any result aggregates on `idCol`, with
    * no exchange. The packed blocks live as long as the frame (Spark's
    * ContextCleaner frees their broadcasts); no RDD is persisted.
    */
  def emit[V, T: ClassTag](spark: SparkSession, blocks: Csr.Blocks,
      state: V, idCol: String, valueCol: String)(
      row: (Array[Long], V, Int) => Option[T]): DataFrame = {
    val double = classTag[T] == ClassTag.Double
    require(double || classTag[T] == ClassTag.Long,
      s"CsrLoop.emit: a long or double value, not ${classTag[T]}")
    val csr = blocks.rdd
    val sc = csr.sparkContext
    val bc = sc.broadcast((blocks.ids, state))
    val packed = try csr.map { case (vsA, _, _) =>
      val (ids, s) = bc.value
      val out = new scala.collection.mutable.ArrayBuilder.ofLong
      val bits = new scala.collection.mutable.ArrayBuilder.ofLong
      vsA.foreach(v => row(ids, s, v).foreach { x =>
        out += ids(v)
        bits += (if (double)
          java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double])
        else x.asInstanceOf[Long])
      })
      (out.result(), bits.result())
    }.collect() finally bc.destroy()
    // t handles in t slices: partition i holds block i's broadcast
    val rows = sc.parallelize(packed.toSeq.map(sc.broadcast(_)), packed.length)
      .mapPartitions(_.flatMap { b =>
        val (ids, bits) = b.value
        val r = Csr.unsafeRow(2)
        Iterator.tabulate[InternalRow](ids.length) { j =>
          r.setLong(0, ids(j))
          if (double) r.setDouble(1, java.lang.Double.longBitsToDouble(bits(j)))
          else r.setLong(1, bits(j))
          r
        }
      })
    val schema = StructType(Seq(StructField(idCol, LongType, false),
      StructField(valueCol, if (double) DoubleType else LongType, false)))
    FrameBridge.hashPartitioned(spark, schema, rows, Seq(idCol),
      24L * packed.iterator.map(_._1.length.toLong).sum)
  }
}
