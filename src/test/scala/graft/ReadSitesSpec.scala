package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the library goes through `graft.sources.Sources`
  * ([[graft.sources.Sources.readParquet]] and its siblings), which
  * resolves schemas from driver-side footers. A bare
  * `spark.read.parquet(path)` elsewhere would bring back the
  * schema-inference job per read, and a read with a hand-given schema
  * would bypass the one reader a change to parquet reading has to
  * touch.
  */
class ReadSitesSpec extends AnyFunSuite {

  // `.read`, any chain of calls (arguments nesting parentheses two
  // deep), then `.parquet(`; or `.read….format("parquet")`
  private val args = """(?:[^()]|\((?:[^()]|\([^()]*\))*\))*"""
  private val parquetRead =
    ("""\.read(?:\s*\.\s*\w+\(""" + args + """\))*\s*\.\s*(?:parquet\(|format\(\s*"parquet"\s*\))""").r

  test("the read-site pattern flags every form of a parquet read, and nothing else") {
    Seq(
      "spark.read.parquet(path)",
      "spark.read.schema(schema).parquet(path)",
      "spark.read\n        .schema(StructType(Seq(f)))\n        .parquet(p: _*)",
      "s.read.option(\"mergeSchema\", \"true\").parquet(p)",
      "spark.read.format(\"parquet\").load(p)",
      "spark.read.schema(s).format( \"parquet\" ).load(p)"
    ).foreach(src => assert(parquetRead.findFirstIn(src).isDefined, s"missed: $src"))
    Seq(
      "spark.read.schema(schema).json(path)",
      "spark.read.orc(path)",
      "spark.read.format(\"csv\").load(p)",
      "ImageIO.read(in)",
      "df.write.parquet(path)"
    ).foreach(src => assert(parquetRead.findFirstIn(src).isEmpty, s"flagged: $src"))
  }

  test("only Sources.scala calls .read.parquet( in src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath} is missing")
    val walked = java.nio.file.Files.walk(root.toPath)
    val files =
      try walked.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally walked.close()
    val hits = files.filter(f => parquetRead.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
      .map(f => root.toPath.relativize(f).toString)
    // the scan sees the one sanctioned site, so an empty result below is not vacuous
    assert(hits.contains("graft/sources/Sources.scala"), s"scan missed Sources.scala: $hits")
    val stray = hits.filterNot(_ == "graft/sources/Sources.scala")
    assert(stray.isEmpty,
      s"${stray.mkString(", ")} read parquet without Sources (one inference job per read)")
  }
}
