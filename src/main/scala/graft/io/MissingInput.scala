package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A required input path does not exist. Readers raise it up front,
  * naming the path: a lazy scan (`wholeTextFiles`) would otherwise fail
  * only at its first action, possibly inside a cached plan, and a
  * reader that filters to the files present would quietly return
  * nothing.
  */
final class MissingInputException(val path: String)
    extends java.io.FileNotFoundException(s"missing input: $path")

object MissingInput {

  /** `path` if it exists on the local file system, else the named error. */
  def requireLocal(path: String): String = {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      throw new MissingInputException(path)
    path
  }

  /** `path` if it matches something on its Hadoop file system (a glob,
    * as `wholeTextFiles` accepts, must match at least one file), else
    * the named error.
    */
  def requireHadoop(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val found = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(p)
    if (found == null || found.isEmpty) throw new MissingInputException(path)
    path
  }
}
