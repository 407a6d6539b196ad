package graft

import java.io.OutputStream
import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system under the `crashfs` scheme, with a crash
  * switch: every file create first asks [[CrashFs.failCreate]], and a
  * `true` fails it with an IOException — a deterministic crash at an
  * exact commit point (a version's `_SUCCESS`, a task's part file). A
  * store rooted at `crashfs:///tmp/...` otherwise behaves exactly like
  * one on the local file system. Every version marker written
  * (`.../v<id>/_SUCCESS`) is logged in order, so a spec can check the
  * order two stores were published in, and every file opened for
  * reading and every directory listed is logged, so a spec can check
  * which files and how much metadata an operation read.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.Uri
  override def getScheme: String = CrashFs.Scheme

  override protected def createOutputStream(f: Path,
                                            append: Boolean): OutputStream =
    CrashFs.created(f)(super.createOutputStream(f, append))

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): OutputStream =
    CrashFs.created(f)(super.createOutputStreamWithMode(f, append, permission))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CrashFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    CrashFs.listed.add(f.toString)
    super.listStatus(f)
  }
}

object CrashFs {
  val Scheme = "crashfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Which creates fail; none by default. */
  @volatile var failCreate: Path => Boolean = _ => false

  /** Every version marker created, in order, as a path string. */
  val markers = new ConcurrentLinkedQueue[String]()

  /** Every file opened for reading, in order, as a path string. */
  val opened = new ConcurrentLinkedQueue[String]()

  /** Every directory listed, in order, as a path string. */
  val listed = new ConcurrentLinkedQueue[String]()

  private val VersionDir = "^v-?\\d+$"

  def isMarker(p: Path): Boolean =
    p.getName == "_SUCCESS" && p.getParent.getName.matches(VersionDir)

  /** `p` lies under the store rooted at `dir`. */
  def under(dir: String)(p: Path): Boolean =
    p.toUri.getPath.startsWith(new Path(dir).toUri.getPath + "/")

  private def created[A](f: Path)(create: => A): A = {
    if (failCreate(f)) throw new java.io.IOException(s"crashfs: injected crash creating $f")
    val out = create
    if (isMarker(f)) markers.add(f.toString)
    out
  }

  /** Register the scheme with the session and return a fresh store
    * root under it.
    */
  def dir(spark: SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix).toString
  }
}
