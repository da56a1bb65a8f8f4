package graft

import java.nio.file.{Files, Path}

import graft.operators.PrefixIndex

/** `PrefixIndex.hasData`: only committed data files count — not
  * `_temporary` trees, `_`-markers or dot-files — found at any depth. */
class HasDataSpec extends SparkSpecBase {

  /** A fresh dir holding one empty file at each relative path. */
  private def layout(files: String*): Path = {
    val dir = Files.createTempDirectory("hasdata")
    files.foreach { f =>
      val p = dir.resolve(f)
      Files.createDirectories(p.getParent)
      Files.createFile(p)
    }
    dir
  }

  private def hasData(p: Path): Boolean = PrefixIndex.hasData(spark, p.toString)

  test("an absent path has no data") {
    assert(!hasData(layout().resolve("absent")))
  }

  test("markers, _temporary trees and dot-files are not data") {
    assert(!hasData(layout("_SUCCESS")))
    assert(!hasData(layout("_temporary/0/part-0.parquet")))
    assert(!hasData(layout(".part-0.parquet")))
    assert(!hasData(layout()))
  }

  test("a bucket-nested part file is data, and so is a file path itself") {
    assert(hasData(layout("k=3/part-0.parquet")))
    assert(hasData(layout("_SUCCESS", "part-0.parquet")))
    assert(hasData(layout("part-0.parquet").resolve("part-0.parquet")))
    assert(!hasData(layout("_SUCCESS").resolve("_SUCCESS")))
  }
}
