package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lints over `src/main/scala`.
  *
  * A parquet read whose schema is inferred costs a distributed
  * footer-read job per frame. Every read therefore either declares its
  * schema (`read.schema(s).parquet(p)`) or goes through
  * [[io.Load.parquet]], which resolves the schema on the driver. */
class SourceLintSpec extends AnyFunSuite {

  /** Every reader chain — `.read` followed by `.method(args)` calls,
    * across line breaks — that ends in `.parquet(` without declaring a
    * `.schema(` first: (line, chain). */
  private[graft] def inferredParquetReads(src: String): Seq[(Int, String)] =
    """\.read\b""".r.findAllMatchIn(src).flatMap { m =>
      var i = m.end
      val calls = Seq.newBuilder[String]
      var more = true
      while (more) {
        var j = i
        while (j < src.length && src(j).isWhitespace) j += 1
        val name = """^\.(\w+)\s*\(""".r.findPrefixMatchOf(src.substring(j))
        name match {
          case Some(c) =>
            calls += c.group(1)
            // skip the balanced argument list
            var k = j + c.end
            var depth = 1
            while (k < src.length && depth > 0) {
              if (src(k) == '(') depth += 1
              else if (src(k) == ')') depth -= 1
              k += 1
            }
            i = k
          case None => more = false
        }
      }
      val chain = calls.result().takeWhile(_ != "parquet")
      if (chain.length < calls.result().length && !chain.contains("schema"))
        Some((src.substring(0, m.start).count(_ == '\n') + 1,
          src.substring(m.start, i).replaceAll("\\s+", " ")))
      else None
    }.toSeq

  test("the chain detector flags inferred reads and only those") {
    val flagged = Seq(
      "spark.read.parquet(p)",
      "spark.read\n      .parquet(s\"${base(spark, dir)}/centroids\")",
      "v.sparkSession.read.parquet(p)",
      "spark.read.option(\"mergeSchema\", \"true\").parquet(out)")
    val clean = Seq(
      "spark.read.schema(s).parquet(p)",
      "spark.read\n  .schema(s)\n  .parquet(p)",
      "df.write.mode(\"overwrite\").parquet(p)",
      "spark.read.csv(p)",
      "spark.readStream.schema(s).parquet(p)")
    flagged.foreach(s => assert(inferredParquetReads(s).size === 1, s))
    clean.foreach(s => assert(inferredParquetReads(s).isEmpty, s))
  }

  test("no parquet read in src/main infers its schema") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.flatMap { (f: Path) =>
      inferredParquetReads(Files.readString(f)).map { case (line, chain) =>
        s"$f:$line: $chain"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} parquet reads infer their schema (one Spark job " +
        "each); declare it or use graft.io.Load.parquet:\n" +
        offenders.mkString("\n"))
  }
}
