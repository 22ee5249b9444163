package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")

  test("8-word rule: empty text, exact lines and a trailing partial line") {
    assert(Checks.fulltext("clean", "") == "")
    assert(Checks.fulltext("clean", null) == "")
    assert(Checks.fulltext("clean", words(8)) == words(8))
    assert(Checks.fulltext("clean", words(10)) == words(8) + "\nw9 w10")
    assert(Checks.fulltext("extras", words(3)) == "w1 w2 w3")
  }

  test("8-word rule per page class") {
    // words pages carry each line's first word ahead of the line
    assert(Checks.fulltext("words", words(10)) == s"w1\n${words(8)}\nw9\nw9 w10")
    assert(Checks.fulltext("words", "") == "")
    // every third line gets a hyphen unless it is the last line
    val three = Checks.fulltext("hyphenated", words(17)).split("\n")
    assert(three.toSeq == Seq(words(8), (9 to 16).map(i => s"w$i").mkString(" "), "w17"))
    val four = Checks.fulltext("hyphenated", words(25)).split("\n")
    assert(four(2).endsWith("w24-") && !four(3).endsWith("-") && !four(1).endsWith("-"))
  }

  test("24-word rule: empty text, exact paragraphs and a trailing partial one") {
    assert(Checks.mainText("") == "")
    assert(Checks.mainText(words(24)) == words(24))
    assert(Checks.mainText(words(25)) == words(24) + "\nw25")
    assert(Checks.mainText(words(48)).split("\n").length == 2)
  }

  test("repaired pages: the bar region's line and the report table") {
    assert(Checks.repairedLines("messy", 6, words(9)) == Seq(words(8), "w9", "xb xb"))
    assert(Checks.repairedLines("clean", 6, words(9)) == Seq(words(8), "w9"))
    assert(Checks.repairReports("messy", 10) == Seq("r0l0:ring_not_valid", "r0l0:hull_applied"))
    assert(Checks.validateReports("messy", 11) == Seq("r0l0:ring_not_valid", "r0l0:baseline_outside"))
    assert(Checks.repairReports("clean", 10).isEmpty && Checks.validateReports("messy", 7).isEmpty)
  }

  test("DOM line texts take only the line-level Unicode, in document order") {
    val xml =
      """<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15"><Page>
        |<TextRegion id="r0"><TextLine id="l0"><Word id="w"><TextEquiv><Unicode>a</Unicode></TextEquiv></Word>
        |<TextEquiv><Unicode>a b &amp; c</Unicode></TextEquiv></TextLine>
        |<TextLine id="l1"><TextEquiv><Unicode>d</Unicode></TextEquiv></TextLine></TextRegion>
        |</Page></PcGts>""".stripMargin
    assert(Checks.domLineTexts(xml.getBytes("UTF-8")) == Seq("a b & c", "d"))
  }

  test("fingerprints are order-independent and count duplicates") {
    val hs = Seq(5L, -1L, 42L, Long.MaxValue, 5L)
    val fp = Checks.fingerprint(hs.iterator)
    assert(fp._1 == 5L)
    assert(hs.permutations.forall(p => Checks.fingerprint(p.iterator) == fp))
    assert(Checks.fingerprint(hs.distinct.iterator) != fp)
    assert(Checks.fingerprint(Iterator.empty) == (0L, 0L))
  }

  test("row hashes computed outside Spark agree with the SQL fingerprint") {
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val rows = Seq(("doc://1", "a b"), ("doc://2", ""), ("doc://3", "ünï\ncode"), ("doc://1", "a b"))
      val sql = Workloads.fingerprint(rows.toDF("url", "text").repartition(3), "url", "text")
      assert(sql == Checks.fingerprint(rows.iterator.map { case (u, t) => Checks.rowHash(u, t) }))
      assert(sql._1 == 4L)
    } finally spark.stop()
  }
}
