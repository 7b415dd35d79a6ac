package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Extraction

/** The trafilatura stand-in's contract (extraction.py:361-374): fields
  * extracted from well-formed pages; any page without a main text or a
  * title degrades to the all-null default row — the operator never
  * throws, whatever the input.
  */
class ExtractionSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("extracts title, meta fields, and paragraph-joined main text") {
    val html = """<html><head><title>T1</title>""" +
      """<meta name="author" content="al">""" +
      """<meta property="og:site_name" content="site">""" +
      """<meta property="article:published_time" content="2024-03-05">""" +
      """</head><body><p>first.</p><div>nav junk</div><p>second.</p></body></html>"""
    val out = Extraction.extractArticle(
      Seq((1L, html)).toDF("id", "html"), $"id", $"html").collect()(0)
    assert(out.getAs[String]("headline") === "T1")
    assert(out.getAs[String]("author") === "al")
    assert(out.getAs[String]("publisher") === "site")
    assert(out.getAs[String]("published_at") === "2024-03-05")
    assert(out.getAs[String]("content") === "first.\n\nsecond.")
    assert(out.getAs[Int]("n_paragraphs") === 2)
  }

  test("no main text or no title degrades to the all-null default row") {
    val rows = Extraction.extractArticle(
      Seq(
        (1L, "<html><body><div>paywall</div></body></html>"), // no <p>, no title
        (2L, "<html><head><title>T</title></head><body>no paras</body></html>"),
        (3L, "<html><body><p>text but no title.</p></body></html>"),
        (4L, "")).toDF("id", "html"),
      $"id", $"html").orderBy("key").collect()
    rows.foreach { r =>
      (1 until r.length).foreach(i => assert(r.isNullAt(i), s"key=${r.get(0)} col=$i"))
    }
  }

  test("missing optional metadata stays null without nulling the article") {
    val html = "<html><head><title>T</title></head><body><p>body.</p></body></html>"
    val out = Extraction.extractArticle(
      Seq((1L, html)).toDF("id", "html"), $"id", $"html").collect()(0)
    assert(out.getAs[String]("headline") === "T")
    assert(out.getAs[String]("content") === "body.")
    assert(out.isNullAt(out.fieldIndex("author")))
    assert(out.isNullAt(out.fieldIndex("publisher")))
    assert(out.isNullAt(out.fieldIndex("published_at")))
  }
}
