package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter,
  OutputWriterFactory, WriteJobStatsTracker, WriteTaskStats,
  WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet write through Spark's own `FileFormatWriter` — the
  * machinery `df.write.parquet` runs — that also reports, per written
  * file, the result of a fold over exactly the rows that went into it.
  * Delta collects its per-file log stats the same way: a
  * `WriteTaskStatsTracker` sees every row as the task writes it, so the
  * writer reports its own files and nothing re-lists or re-reads them.
  * Lives here because the writer, its stats trackers and the classic
  * `queryExecution` are `private[sql]` seams.
  */
object FileWriteBridge {

  /** One written file's fold: `add` sees each row the task writes to
    * the file, `finish` runs on the executor once the file is closed.
    */
  trait FileFold[R] {
    def add(row: InternalRow): Unit
    def finish(fileName: String): R
  }

  /** Write `df` as parquet files under `path` (created by the write) and
    * return (file name, fold result) for every file the job committed.
    * `jobConf` entries are set on the write's own Hadoop job conf after
    * the format prepared it, so they override what the session conf
    * would put there without touching the session.
    */
  def writeParquet[R](df: DataFrame, path: String,
      jobConf: Map[String, String], newFold: () => FileFold[R])
      : Seq[(String, R)] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    val tracker = new FoldJobTracker(newFold)
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      java.util.UUID.randomUUID().toString, path)
    SQLExecution.withNewExecutionId(qe, Some("graft segment write")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new PinnedParquet(jobConf),
        committer, FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        spark.sessionState.newHadoopConf(), Nil, None, Seq(tracker),
        Map.empty)
    }
    tracker.files
  }

  private final class PinnedParquet(jobConf: Map[String, String])
      extends ParquetFileFormat {
    override def prepareWrite(spark: org.apache.spark.sql.SparkSession,
        job: Job, options: Map[String, String],
        dataSchema: StructType): OutputWriterFactory = {
      val factory = super.prepareWrite(spark, job, options, dataSchema)
      jobConf.foreach { case (k, v) => job.getConfiguration.set(k, v) }
      factory
    }
  }

  private final case class FoldedFiles[R](files: Seq[(String, R)])
      extends WriteTaskStats

  private final class FoldJobTracker[R](newFold: () => FileFold[R])
      extends WriteJobStatsTracker {
    @transient private var collected: Seq[(String, R)] = Nil

    def files: Seq[(String, R)] = collected

    override def newTaskInstance(): WriteTaskStatsTracker =
      new FoldTaskTracker(newFold)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      collected = stats.flatMap { case f: FoldedFiles[R @unchecked] =>
        f.files }
  }

  private final class FoldTaskTracker[R](newFold: () => FileFold[R])
      extends WriteTaskStatsTracker {
    private val open = mutable.HashMap.empty[String, FileFold[R]]
    private val done = mutable.ArrayBuffer.empty[(String, R)]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit =
      open(filePath) = newFold()

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach { f =>
        val name = new Path(filePath).getName
        done += name -> f.finish(name)
      }

    override def newRow(filePath: String, row: InternalRow): Unit =
      open(filePath).add(row)

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FoldedFiles(done.toSeq)
  }
}
