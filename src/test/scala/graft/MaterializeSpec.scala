package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.Graph

/** The one materialization scope ([[Materialize]]): a lint that keeps
  * every operator and query materialization on it, and the helper's
  * own contract. */
class MaterializeSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  private def sc = spark.sparkContext
  /** Whether the CacheManager holds an entry for `df`'s plan. */
  private def cached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
  private def sealedScan(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]
  private def frame(n: Int): DataFrame =
    spark.range(n).select((col("id") % 7).as("k"), col("id"))

  /** The source of one `def` in `text`: from its declaration to the
    * next declaration at the same indentation. */
  private def defBody(text: String, name: String): String = {
    val start = text.indexOf(s"def $name")
    assert(start >= 0, s"def $name not found")
    val indent = text.lastIndexOf('\n', start)
    val lead = text.substring(indent + 1, start).takeWhile(_ == ' ')
    val next = (s"\n$lead(?:(?:private|protected|override|final)" +
      "(?:\\[\\w+\\])? )*def ").r
      .findFirstMatchIn(text.substring(start + 4))
      .map(_.start + start + 4).getOrElse(text.length)
    text.substring(start, next)
  }

  private val root = java.nio.file.Paths.get("src/main/scala")
  private lazy val mainFiles: Seq[java.nio.file.Path] = {
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
  }
  /** `f`'s source with its comments blanked: comments may name the
    * calls they document. Line numbers are kept. */
  private def codeOf(f: java.nio.file.Path): String =
    "(?s)/\\*.*?\\*/".r
      .replaceAllIn(java.nio.file.Files.readString(f),
        m => scala.util.matching.Regex.quoteReplacement(
          m.matched.filter(_ == '\n')))
      .replaceAll("(?m)^[ \t]*//.*$", "")
      .replaceAll("(?m)[ \t]//[^\"\\n]*$", "")

  test("every persist, cache and localCheckpoint goes through Materialize") {
    val uses = ("""\.persist\(|\.cache\(\)|\.localCheckpoint\(|""" +
      """getPersistentRDDs[^;]{0,120}?unpersist""").r
    val files = mainFiles
    assert(files.length > 50)
    val offenders = files.flatMap { f =>
      val code = codeOf(f)
      val allowed: String => Boolean = f.getFileName.toString match {
        case "Materialize.scala" => _ => true
        // rolling leg retirement: frees legs mid-loop, which a scope
        // does not do
        case "Engine.scala" =>
          val body = defBody(code, "buildRecursiveCte")
          m => body.contains(m)
        // a live stream's static index must outlive any scope
        case "Dedup.scala" =>
          val body = defBody(code, "streamNearDupScreen")
          m => body.linesIterator.exists(l =>
            l.contains("isStreaming") && l.contains(m.trim))
        case _ => _ => false
      }
      code.linesIterator.zipWithIndex.collect {
        case (line, i) if uses.findFirstIn(line).isDefined &&
            !allowed(line) => s"${root.relativize(f)}:${i + 1}: ${line.trim}"
      }.toSeq ++ uses.findAllMatchIn(code)
        .filter(m => m.matched.contains("\n") && !allowed(m.matched))
        .map(m => s"${root.relativize(f)}: sweep ${m.matched.take(60)}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every main runs registered queries inside a consumer scope") {
    // outside a scope a query that holds or cuts is the outermost
    // scope and comes back sealed: one extra eager job, and a bare
    // scan where a plan dump expects the query's plan
    val runners = mainFiles
      .filter(_.getFileName.toString != "SparkEntry.scala")
      .map(f => f -> codeOf(f))
      .filter(_._2.contains("SparkEntry.queries"))
    assert(runners.size >= 5, runners.map(_._1)) // Bench, Verify, Plans, …
    // a registered query applied to a session: `fn(spark, sfDir)`,
    // `SparkEntry.queries(name)(spark, sfDir)`; table loads excepted
    val run = """([\w.]+(?:\(\w+\))?)\(\s*spark\s*,\s*\w+\s*\)""".r
    val offenders = runners.flatMap { case (f, commented) =>
      // string and char literals blanked (same length) so their
      // braces do not count
      val code = """(?s)"{3}.*?"{3}|"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)'""".r
        .replaceAllIn(commented, m => scala.util.matching.Regex
          .quoteReplacement(m.matched.map(c => if (c == '\n') c else ' ')))
      val scopes = """Materialize\.scope\s*[({]""".r.findAllMatchIn(code)
        .map { m =>
          val (open, close) = if (code(m.end - 1) == '{') ('{', '}')
            else ('(', ')')
          var depth = 0
          val end = (m.end - 1 until code.length).find { i =>
            if (code(i) == open) depth += 1
            else if (code(i) == close) depth -= 1
            depth == 0
          }.getOrElse(code.length)
          (m.end, end)
        }.toSeq
      val runs = run.findAllMatchIn(code)
        .filterNot(_.group(1).startsWith("Tables.")).toSeq
      assert(runs.nonEmpty, s"${root.relativize(f)} runs no query")
      runs.filterNot(m => scopes.exists { case (a, b) =>
        a <= m.start && m.end <= b }).map { m =>
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        s"${root.relativize(f)}:$line: ${m.matched}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("an operator inside an open scope does not seal") {
    Materialize.scope {
      val out = Materialize {
        val h = Materialize.hold(frame(100))
        h.groupBy(col("k")).count()
      }
      assert(!sealedScan(out))
      assert(out.count() == 7)
    }
  }

  test("the outermost scope seals, then releases what it held") {
    val before = sc.getPersistentRDDs.keySet
    val src = frame(200)
    val out = Materialize {
      val h = Materialize.hold(src)
      val c = Materialize.cut(h.filter(col("k") > 2))
      c.groupBy(col("k")).count()
    }
    assert(sealedScan(out))
    assert(!cached(src))
    val sealedRdd = out.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    assert((sc.getPersistentRDDs.keySet -- before) == Set(sealedRdd))
    assert(out.collect().map(_.getLong(1)).sum ==
      (0 until 200).count(_ % 7 > 2))
  }

  test("a scope that held nothing returns the frame as built") {
    val df = frame(10).filter(col("k") === 1)
    assert(Materialize(df) eq df)
  }

  test("a scope releases what it held when its body fails") {
    val before = sc.getPersistentRDDs.keySet
    val src = frame(300)
    intercept[IllegalStateException] {
      Materialize {
        val h = Materialize.hold(src)
        Materialize.cut(h.filter(col("k") === 3)).count()
        throw new IllegalStateException("boom")
      }
    }
    intercept[IllegalStateException] {
      Materialize.scope {
        Materialize.hold(src).count()
        throw new IllegalStateException("boom")
      }
    }
    assert(!cached(src))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a hold leaves no CacheManager entry once its scope closes") {
    val src = frame(50)
    Materialize.scope {
      val h = Materialize.hold(src)
      assert(h.count() == 50)
      assert(cached(src))
    }
    assert(!cached(src))
  }

  test("drop releases a held frame before its scope closes") {
    val src = frame(40)
    Materialize.scope {
      val h = Materialize.hold(src)
      h.count()
      Materialize.drop(h)
      assert(!cached(src))
    }
  }

  test("hold and cut outside any scope fail by name") {
    val e = intercept[IllegalArgumentException](Materialize.hold(frame(5)))
    assert(e.getMessage.contains("no Materialize scope"))
    intercept[IllegalArgumentException](Materialize.cut(frame(5)))
  }

  test("connected components written inside a consumer scope leave " +
    "no persisted RDD") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (7L, 8L))
      .toDF("s", "d")
    val before = sc.getPersistentRDDs.keySet
    Materialize.scope {
      Graph.connectedComponents(chain, "s", "d")
        .write.format("noop").mode("overwrite").save()
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
