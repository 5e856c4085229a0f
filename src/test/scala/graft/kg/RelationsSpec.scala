package graft.kg

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.spark.{ExtractStage, Page}

/** Surface-pattern relation extraction over crafted faculty pages:
  * honorific-prefix -> hasTitle, nearest-mention email -> hasEmail.
  */
class RelationsSpec extends AnyFunSuite with SharedSpark {

  private def page(url: String, html: String): Page =
    Page(url, new Timestamp(0L), html.getBytes("UTF-8"), "", "en")

  private def relationsOf(html: String,
      names: Seq[String]): Set[(String, String, String)] = {
    import spark.implicits._
    val pages = spark.createDataset(Seq(page("http://u.edu/f", html)))
    val sents = ExtractStage.sentences(spark, pages,
      targetNamesFn = Some((_: String) => names))
    Relations.goldRelations(spark, sents).collect()
      .map(t => (t.subj, t.pred, t.obj)).toSet
  }

  test("honorific directly before a mention becomes hasTitle") {
    val rels = relationsOf(
      "<html><body><p>Dr. Alice Smith leads the lab.</p>" +
        "<p>Visiting scholar Bob Jones arrived.</p></body></html>",
      Seq("Alice Smith", "Bob Jones"))
    assert(rels.contains(("Alice Smith", Relations.HasTitle, "Dr.")))
    // no honorific directly before Bob Jones
    assert(!rels.exists(r => r._1 == "Bob Jones" && r._2 == Relations.HasTitle))
  }

  test("email is attributed to the nearest mention in the sentence") {
    val rels = relationsOf(
      "<html><body><p>Alice Smith alice@u.edu and Bob Jones bob@u.edu" +
        "</p></body></html>",
      Seq("Alice Smith", "Bob Jones"))
    assert(rels.contains(("Alice Smith", Relations.HasEmail, "alice@u.edu")))
    assert(rels.contains(("Bob Jones", Relations.HasEmail, "bob@u.edu")))
  }

  test("sentences with no mention emit no relations") {
    val rels = relationsOf(
      "<html><body><p>Contact info@u.edu for details.</p></body></html>",
      Seq("Alice Smith"))
    assert(rels.isEmpty)
  }

  test("block boundaries scope email attribution (table-row layout)") {
    // each <tr> is a sentence boundary in the reference segmentation,
    // so an email in row 2 can never attach to the person in row 1
    val rels = relationsOf(
      "<html><body><table>" +
        "<tr><td>Prof. Carol Wu</td><td>carol@u.edu</td></tr>" +
        "<tr><td>Office</td><td>other@u.edu</td></tr>" +
        "</table></body></html>",
      Seq("Carol Wu"))
    assert(rels.contains(("Carol Wu", Relations.HasTitle, "Prof.")))
    assert(rels.contains(("Carol Wu", Relations.HasEmail, "carol@u.edu")))
    assert(!rels.exists(_._3 == "other@u.edu"))
  }
}
