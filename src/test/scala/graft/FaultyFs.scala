package graft

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faulty:` scheme, whose renames and
  * deletes can be made to fail — crash injection for the commit
  * protocols. `faulty:/tmp/x` names the same file as `/tmp/x`, so a test
  * builds its state through the plain path and runs only the step under
  * test through [[FaultyFs.path]] inside [[FaultyFs.withFaults]]. */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = FaultyFs.Uri.getScheme

  override def rename(src: Path, dst: Path): Boolean =
    !FaultyFs.failRename(src, dst) && super.rename(src, dst)

  override def delete(p: Path, recursive: Boolean): Boolean =
    if (FaultyFs.failDelete(p)) throw new IOException(s"injected delete failure: $p")
    else super.delete(p, recursive)
}

object FaultyFs {
  private val Uri = URI.create("faulty:///")

  @volatile private var failRename: (Path, Path) => Boolean = (_, _) => false
  @volatile private var failDelete: Path => Boolean = _ => false

  /** `local`, an absolute local path, under the `faulty:` scheme. */
  def path(local: String): String = s"${Uri.getScheme}://$local"

  /** Run `body` with the scheme registered in the session: a rename that
    * `rename` matches returns false, a delete that `delete` matches
    * throws. */
  def withFaults[A](spark: SparkSession,
      rename: (Path, Path) => Boolean = (_, _) => false,
      delete: Path => Boolean = _ => false)(body: => A): A = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    failRename = rename
    failDelete = delete
    try body
    finally {
      failRename = (_, _) => false
      failDelete = _ => false
    }
  }
}
