package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables._
import graft.functions.QueryDsl

/** B50 ref_dsl_filter — the reference-semantics showpiece: an
  * ocdb-style query string covering every DSL construct (phrase,
  * field:value, wildcard, range, AND/OR/NOT/-) parsed and compiled to a
  * Column predicate over a metadata-shaped projection of `documents`
  * (columns standing in for SeaBASS header fields, FIXTURES.md).
  *
  * The oracle is the hand-expanded WHERE clause — proving the parser +
  * compiler produce exactly the predicate the reference's semantics
  * dictate. Because the output is a plain Catalyst filter, pushdown
  * applies: explain shows the DSL terms as PushedFilters on the scan.
  */
object RefDsl {

  val dslQuery: String =
    """scan AND lang:e? AND n_chars:[200 TO 500] AND (source:src1* OR source:src2) AND NOT "merge join" AND -fail"""

  def refDslFilter(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs
      .filter(QueryDsl.predicate(docs, dslQuery, textColumns = Seq("text")))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }
  val refDslFilterSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE lower(text) LIKE '%scan%'
      |  AND lang LIKE 'e_'
      |  AND n_chars BETWEEN 200 AND 500
      |  AND (source LIKE 'src1%' OR source = 'src2')
      |  AND NOT lower(text) LIKE '%merge join%'
      |  AND NOT lower(text) LIKE '%fail%'
      |ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ref_dsl_filter" -> (refDslFilter _),
  )
  val oracle: Map[String, String] = Map(
    "ref_dsl_filter" -> refDslFilterSql,
  )
}
