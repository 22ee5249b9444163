package pageplus

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite._
import pageplus.text.Dsv

/** End-to-end DSV file sink (VERDICT r1 item 8): the rows actually land in a
  * .csv with the delimiter option, read back equal, and the bytes are stable
  * across re-writes. */
class DsvSinkSpec extends AnyFunSuite {

  private def rowsDf = {
    import spark.implicits._
    pageplus.spark.Pipeline
      .parse(pageplus.data.PagesFromDocuments.clean(spark, sf).toDF())
      .flatMap(Dsv.rows _)
      .toDF()
  }

  private def partBytes(dir: String): String = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
  }

  test("tsv sink round-trips: written file reads back value-identical") {
    val dir = tempDir("graft_dsv_")
    val df = rowsDf
    Dsv.writeCsv(df, dir)
    val back = Dsv.readCsv(spark, dir)
    val want = Dsv.csvColumns(df).collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.toString)
    val got = back.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.toString)
    assert(got == want && got.nonEmpty)
  }

  test("delimiter option honored; bytes stable across re-writes") {
    val df = Dsv.csvColumns(rowsDf).coalesce(1)
      .sortWithinPartitions("url", "id")
    val d1 = tempDir("graft_dsv1_")
    val d2 = tempDir("graft_dsv2_")
    df.write.mode("overwrite").option("header", "true").option("delimiter", ";").csv(d1)
    df.write.mode("overwrite").option("header", "true").option("delimiter", ";").csv(d2)
    val b1 = partBytes(d1)
    assert(b1 == partBytes(d2) && b1.nonEmpty)
    assert(b1.linesIterator.next() == "url;id;text;region;start;mean;end;area;width;length")
  }

  test("embedded quotes are doubled (python csv style), not backslash-escaped") {
    import spark.implicits._
    val rows = Seq(("doc://9", "l0", "he said \"hi\" there", 0,
      1, 2, 3, 4, 5, 6, 7, 8, 9))
      .toDF("url", "id", "text", "region", "start_x", "start_y", "mean_x", "mean_y",
        "end_x", "end_y", "area", "width", "length")
    val dir = tempDir("graft_dsv_q_")
    Dsv.writeCsv(rows, dir)
    val content = partBytes(dir)
    assert(content.contains("\"he said \"\"hi\"\" there\""), s"got: $content")
    val back = Dsv.readCsv(spark, dir).select("text").collect().map(_.getString(0))
    assert(back.toSeq == Seq("he said \"hi\" there"))
  }

  test("single-doc fixture writes the exact reference-shaped lines") {
    import spark.implicits._
    val doc = pageplus.data.PagesFromDocuments.cleanDoc(3L, "a b c d e f g h i")
    val rows = Dsv.rows(doc).toDF()
    val dir = tempDir("graft_dsv_fix_")
    Dsv.writeCsv(rows.coalesce(1).sortWithinPartitions("id"), dir)
    val content = partBytes(dir)
    val expected =
      "url\tid\ttext\tregion\tstart\tmean\tend\tarea\twidth\tlength\n" +
      "doc://3\tr0l0\ta b c d e f g h\t0\t[120, 140]\t[500, 140]\t[880, 140]\t40000\t50\t800\n" +
      "doc://3\tr0l1\ti\t0\t[120, 200]\t[500, 200]\t[880, 200]\t40000\t50\t800\n"
    assert(content == expected)
  }
}
