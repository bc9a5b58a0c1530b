package perfbench

import java.io.File
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system with every path under `/tmp` moved below the
  * directory named by the JVM property `perfbench.tmp`.
  *
  * The program writes its ingest re-layouts and artifacts to fixed
  * `/tmp/...` paths through Hadoop's file system; registered as
  * `fs.file.impl`, this keeps those writes inside the benchmark's own
  * work directory. Listings report paths under `/tmp`, as the program
  * expects them.
  */
final class ConfinedRawFS extends RawLocalFileSystem {
  private val root = sys.props("perfbench.tmp")

  private def confined(p: Path): Boolean = {
    val s = p.toUri.getPath
    s == "/tmp" || s.startsWith("/tmp/")
  }

  private def absolute(p: Path): Path =
    if (p.isAbsolute) p else new Path(getWorkingDirectory, p)

  override def pathToFile(path: Path): File = {
    val abs = absolute(path)
    if (confined(abs)) new File(root + abs.toUri.getPath.substring(4))
    else super.pathToFile(abs)
  }

  override def getFileStatus(f: Path): FileStatus = {
    val s = super.getFileStatus(f)
    if (confined(absolute(f))) s.setPath(makeQualified(f))
    s
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val all = super.listStatus(f)
    if (confined(absolute(f))) {
      val q = makeQualified(f)
      val self = pathToFile(f).getPath
      all.foreach { s =>
        s.setPath(if (s.getPath.toUri.getPath == self) q else new Path(q, s.getPath.getName))
      }
    }
    all
  }
}

final class ConfinedFS extends LocalFileSystem(new ConfinedRawFS)
