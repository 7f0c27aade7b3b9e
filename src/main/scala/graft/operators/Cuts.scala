package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, ExactStatsLeaf}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType

/** Lineage cuts with a config-selected durability backend — the one
  * switch every iterative operator (Supersteps, Traversal, Triangles,
  * Components, PageRank, the Dedup/stream shared builds) routes its
  * cuts through.
  *
  * Backends:
  *  - default (no config): a local checkpoint — materialized
  *    unreplicated executor blocks. On `local[n]` this is correct and
  *    the fastest cut available (no serialization to disk).
  *  - `spark.graft.checkpoint.dir = <path>`: a parquet round-trip
  *    under that directory — the CLUSTER-durable backend. On a real
  *    cluster, localCheckpoint pins unreplicated blocks in executor
  *    storage, so one lost executor kills a 50-superstep job;
  *    a checkpoint written to the shared filesystem (HDFS/S3/...)
  *    survives any executor loss and lets the job resume from the
  *    last cut. Parquet (rather than `df.checkpoint()`) because it
  *    needs no SparkContext-global `setCheckpointDir` mutation and is
  *    columnar-compressed on the wire.
  *
  * Every cut is a fresh plan leaf, so size estimates restart at each
  * cut. Joins multiply their children's size estimates, so a loop
  * whose cuts carried the estimate forward would grow its bit-length
  * by a factor of the join count per round, until Catalyst spends
  * minutes in BigInteger arithmetic. The default backend's leaf also
  * carries the exact row count (see [[counted]]), so the small frames
  * an iterative loop cuts plan as broadcast joins.
  *
  * File lifecycle under the reliable backend is the caller's, exactly
  * like `SparkContext.setCheckpointDir`: point the config at a
  * job-scoped scratch directory and drop it when the job ends (cut
  * files are write-once and never referenced again after the next
  * cut's action completes, so a TTL policy also works).
  */
object Cuts {
  /** Session-config key selecting the reliable backend. */
  val DirKey = "spark.graft.checkpoint.dir"

  private def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirKey).filter(_.nonEmpty)

  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Materialize `df` and return a frame reading the materialization —
    * the lineage cut — with its row count.
    *
    * Default backend: one job, a count over the local checkpoint's
    * RDD, which materializes the checkpoint as it counts. The frame's
    * leaf has exact statistics (row count, and size = rows × row
    * width). Reliable backend: the parquet write, then a count of the
    * read-back as a second job; the read-back's statistics are file
    * sizes. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val (cut, rows, _) = measured(df, Nil)
    (cut, rows)
  }

  /** [[counted]] that also returns the sums of the named long columns,
    * taken in the same pass over the materialized rows: one job on the
    * default backend, the write and then one pass over the read-back
    * on the reliable one. Sums wrap on overflow (they are order-free
    * fingerprints or exact censuses), NULLs add nothing. */
  def measured(df: DataFrame, sums: Seq[String]): (DataFrame, Long, Array[Long]) = {
    sums.foreach { c =>
      require(df.schema(c).dataType == LongType, s"measured column $c must be a long")
    }
    reliableDir(df) match {
      case Some(dir) =>
        val path = s"$dir/cut-${seq.incrementAndGet()}-${java.util.UUID.randomUUID().toString.take(8)}"
        df.write.parquet(path)
        val back = df.sparkSession.read.parquet(path)
        val (rows, totals) = countAndSum(
          back.select(sums.map(back.col): _*).queryExecution.toRdd, sums.indices)
        (back, rows, totals)
      case None =>
        val cp = df.localCheckpoint(eager = false)
        val leaf = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
        val (rows, totals) = countAndSum(leaf.rdd, sums.map(cp.schema.fieldIndex))
        (ExactStatsLeaf(cp.sparkSession, leaf, rows), rows, totals)
    }
  }

  /** Row count and wrapping per-ordinal long sums in one job. */
  private def countAndSum(rdd: RDD[InternalRow], ordinals: Seq[Int]): (Long, Array[Long]) = {
    val ords = ordinals.toArray
    val k = ords.length
    val parts = rdd.mapPartitions { it =>
      val acc = new Array[Long](k + 1)
      it.foreach { row =>
        acc(0) += 1
        var j = 0
        while (j < k) {
          if (!row.isNullAt(ords(j))) acc(j + 1) += row.getLong(ords(j))
          j += 1
        }
      }
      Iterator.single(acc)
    }
    val total = parts.fold(new Array[Long](k + 1)) { (x, y) =>
      Array.tabulate(k + 1)(j => x(j) + y(j))
    }
    (total(0), total.tail)
  }

  /** [[counted]] without the count. */
  def cut(df: DataFrame): DataFrame = counted(df)._1

  /** `df.cut()` postfix form. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Cuts.cut(df)
  }
}
