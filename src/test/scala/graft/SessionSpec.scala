package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's session regime has one definition (`Session`): the test
  * fixture runs the conf list the mains run, scoped conf changes restore
  * exactly what they found, and no hand-written copy grows back. */
class SessionSpec extends AnyFunSuite with SparkFixture {

  test("the test session runs every conf of Session.confs; the differences are named") {
    val built = spark.sparkContext.getConf
    val drift = Session.confs(SparkTest.cpus).collect {
      case (k, v) if !built.getOption(k).contains(v) => s"$k = ${built.getOption(k)}, want $v"
    }
    assert(drift.isEmpty, drift.mkString("\n"))
    // the named differences: a fixed local[4], the app name, a temp warehouse
    assert(built.get("spark.master") === "local[4]")
    assert(built.get("spark.app.name") === SparkTest.appName)
    assert(built.get("spark.sql.warehouse.dir").contains("graft-warehouse"))
  }

  private val (keyA, keyB) = ("graft.test.scoped.a", "graft.test.scoped.b")

  test("withConfs restores both keys when its body throws") {
    spark.conf.set(keyA, "a0")
    spark.conf.set(keyB, "b0")
    intercept[IllegalStateException] {
      Session.withConfs(spark, keyA -> "a1", keyB -> "b1") {
        assert(spark.conf.get(keyA) === "a1" && spark.conf.get(keyB) === "b1")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(keyA) === "a0")
    assert(spark.conf.get(keyB) === "b0")
    spark.conf.unset(keyA)
    spark.conf.unset(keyB)
  }

  test("withConfs leaves an unset key unset, not pinned to its default") {
    val aqe = Session.aqeOff._1
    spark.conf.unset(aqe)
    spark.conf.unset(keyA)
    Session.withConfs(spark, Session.aqeOff, keyA -> "a1") {
      assert(spark.conf.get(aqe) === "false")
    }
    assert(!spark.conf.getAll.contains(aqe), s"$aqe was pinned to ${spark.conf.getOption(aqe)}")
    assert(!spark.conf.getAll.contains(keyA))
    assert(spark.conf.get(aqe) === "true") // the default again
  }

  test("nested withConfs calls restore in order") {
    spark.conf.set(keyA, "a0")
    Session.withConfs(spark, keyA -> "a1") {
      Session.withConfs(spark, keyA -> "a2", keyB -> "b2") {
        assert(spark.conf.get(keyA) === "a2")
      }
      assert(spark.conf.get(keyA) === "a1")
      assert(!spark.conf.getAll.contains(keyB))
    }
    assert(spark.conf.get(keyA) === "a0")
    spark.conf.unset(keyA)
  }

  test("src/main has one session builder, one conf list, one AQE switch, one reset") {
    val root = Paths.get("src/main/scala")
    assume(Files.isDirectory(root), s"$root not present (tests run from the repo root)")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    // code lines only: a comment may name what the code must not repeat
    def code(f: Path): Seq[(String, Int)] =
      Files.readAllLines(f).asScala.zipWithIndex.filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.toSeq
    def only(needle: String, owner: String): Seq[String] = for {
      f <- files if f.getFileName.toString != owner
      (l, i) <- code(f) if l.contains(needle)
    } yield s"$f:${i + 1}: `$needle` belongs in $owner only"
    val offenders =
      only("SparkSession.builder", "Session.scala") ++
        only("\"spark.sql.codegen.cache.maxEntries\"", "Session.scala") ++
        only("\"spark.sql.adaptive.enabled\"", "Session.scala") ++
        only("getPersistentRDDs", "BlockHygiene.scala")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the benchmark harness's conf copy matches Session.confs value for value") {
    val main = Paths.get("perfbench/harness/Main.scala")
    assume(Files.isRegularFile(main), s"$main not present")
    val pair = """"([a-z.A-Z]+)" -> "([^"]*)"""".r
    val copied = pair.findAllMatchIn(Files.readString(main))
      .map(m => m.group(1) -> m.group(2)).toMap
    Session.confs(SparkTest.cpus).foreach {
      case ("spark.sql.shuffle.partitions", _) =>
        // the harness derives it from its --cpus argument, as confs(cpus) does
      case (k, v) => assert(copied.get(k).contains(v), s"perfbench copy of $k")
    }
  }
}
