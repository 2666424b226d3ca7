package graft.pipebench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private val dir = Files.createTempDirectory("pipebench-gen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(dir)
  }

  private def staged(w: Workload, seed: Long, tag: String): Seq[String] = {
    val in = new java.io.File(dir, s"${w.name}-$tag").getPath
    w.stage(spark, in, seed)
    w.inputPaths(in).map(Gen.digest)
  }

  for (w <- Workloads.all) test(s"${w.name}: one seed stages byte-identical inputs, another seed differs") {
    val a = staged(w, 7, "a")
    assert(staged(w, 7, "b") == a)
    assert(staged(w, 8, "c") != a)
  }

  test("Gen.size counts data files only") {
    val p = new java.io.File(dir, "size").getPath
    Gen.write(spark.range(10).toDF(), p, files = 2)
    val (bytes, files) = Gen.size(p)
    assert(files == 2 && bytes > 0)
  }
}
