package perfbench

import java.nio.file.{Path, Files => JFiles}
import java.util.Comparator

object Files {
  /** Remove a directory tree; a missing path is fine. */
  def deleteTree(dir: Path): Unit =
    if (JFiles.exists(dir)) {
      val s = JFiles.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(p => JFiles.deleteIfExists(p))
      finally s.close()
    }
}
