package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val shape = Gen.UploadShape(delimited = 3, minRows = 50, maxRows = 400,
    binary = 1, minBinaryRows = 20, maxBinaryRows = 60)

  private val made = scala.collection.mutable.ArrayBuffer.empty[File]

  private def tmp(tag: String): File = {
    val d = Files.createTempDirectory(s"perfbench-$tag").toFile
    made += d
    d
  }

  override def afterAll(): Unit = made.foreach(Workload.deleteTree)

  private def contents(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().filter(_.isFile).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("the same seed generates byte-identical inputs and truth; another seed does not") {
    def generate(seed: Long): (Map[String, Seq[Byte]], String, Gen.CrawlTruth, Seq[Gen.Page]) = {
      val up = tmp("upload")
      val truth = Gen.truthJson(Gen.uploadFiles(seed, up, shape))
      val crawl = tmp("crawl")
      val ct = Gen.crawlBatch(seed, crawl, nPages = 200, nSegments = 3)
      val corpus = Gen.streamCorpus(seed, 50)
      val (segment, _) = Gen.streamSegment(seed, 1, 40, corpus)
      Gen.writeSegment(new File(crawl, "stream-segment.warc.wet.gz"), segment)
      (contents(up) ++ contents(crawl).map { case (k, v) => s"crawl/$k" -> v }, truth, ct, corpus)
    }
    val a = generate(7)
    val b = generate(7)
    assert(a._1.keySet == b._1.keySet)
    a._1.keys.foreach(k => assert(a._1(k) == b._1(k), s"$k differs between generations"))
    assert(a._1.keys.exists(_.endsWith(".xlsx")) && a._1.keys.exists(_.endsWith(".mdb")))
    assert(a._2 == b._2 && a._3 == b._3 && a._4 == b._4)
    val c = generate(8)
    assert(a._1.keys.exists(k => c._1.get(k) != a._1.get(k)))
  }

  test("a wrong truth value fails the op's check and is counted as failed") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val work = tmp("work")
      val tracer = new Tracer(spark, enabled = false, cores = 2)
      val upload = new UploadSave(spark, tracer, 3L, work, shape)
      assert(upload.setup(0).isEmpty)
      val f = upload.files.last
      val wrong = new Workload {
        def setup(rep: Int): Option[String] = None
        def op(i: Int): OpRecord =
          if (i == 0) upload.run(f.copy(decimalSum = f.decimalSum.add(java.math.BigDecimal.ONE)), s"wrong$i")
          else upload.run(f, s"right$i")
        def close(): Unit = ()
      }
      val ops = Main.measure(wrong, tracer, seconds = 0.0)
      assert(ops.length == 1)
      assert(ops.flatMap(_.error).length == 1)
      assert(ops.head.error.get.contains(s"sum(${f.decimalCol})"))
      assert(ops.head.items == 0L)
      assert(wrong.op(1).error.isEmpty)
    } finally spark.stop()
  }
}
