package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A managed table's files, read through the Hadoop FS from outside the
  * program: `_manifest/v<N>.json` holds the file list on its second line.
  */
object TableFiles {
  private val Quoted = "\"([^\"]*)\"".r

  final case class Manifest(bytes: Long, files: Seq[String]) {
    def data: Seq[String] = files.filterNot(_.startsWith("dv:"))
  }

  def manifest(spark: SparkSession, dir: String, v: Int): Manifest = {
    val p = new Path(s"$dir/_manifest/v$v.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = text.split("\n", 4)
    Manifest(fs.getFileStatus(p).getLen,
      if (lines.length > 1) Quoted.findAllMatchIn(lines(1)).map(_.group(1)).toSeq else Nil)
  }

  /** Total bytes of `files`, relative paths under `dir`. */
  def bytes(spark: SparkSession, dir: String, files: Seq[String]): Long = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map(f => fs.getFileStatus(new Path(s"$dir/$f")).getLen).sum
  }

  /** Files and bytes of parquet output under a directory tree. */
  def parquetUnder(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (0L, 0L)
    else {
      val it = fs.listFiles(p, true)
      var n = 0L; var b = 0L
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) { n += 1; b += s.getLen }
      }
      (n, b)
    }
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
