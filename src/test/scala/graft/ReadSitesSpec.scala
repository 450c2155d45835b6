package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the library goes through
  * [[graft.sources.Sources.readParquet]], which resolves the schema
  * from one driver-side footer. A bare `spark.read.parquet(path)`
  * elsewhere would bring back the schema-inference job per read.
  */
class ReadSitesSpec extends AnyFunSuite {

  private val bareRead = """\.read\s*\.\s*parquet\(""".r

  test("only Sources.scala calls .read.parquet( in src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath} is missing")
    val walked = java.nio.file.Files.walk(root.toPath)
    val files =
      try walked.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally walked.close()
    val hits = files.filter(f => bareRead.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
      .map(f => root.toPath.relativize(f).toString)
    // the scan sees the one sanctioned site, so an empty result below is not vacuous
    assert(hits.contains("graft/sources/Sources.scala"), s"scan missed Sources.scala: $hits")
    val stray = hits.filterNot(_ == "graft/sources/Sources.scala")
    assert(stray.isEmpty,
      s"${stray.mkString(", ")} read parquet without Sources.readParquet (one inference job per read)")
  }
}
