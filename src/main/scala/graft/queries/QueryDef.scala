package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.spark.Page

/** One registered query: its stable name, the Spark plan it builds over
  * the generated tables of a scale-factor directory, and the
  * DuckDB SQL that must reproduce its rows, with the same column names
  * (the oracle check sorts columns by name before hashing). Each family (kg,
  * graph, ann, dedup, doc, mm, stream, q) declares its queries in its
  * own file here; comments cite SURVEY.md §2 ids.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {

  /** A generated table of the scale-factor directory `dir`. */
  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** `documents` wrapped as SynthPages after each token `t` at 0-based
    * position `i` is replaced by the SQL expression `caseSql` — the
    * planted-token device behind the closed-form oracles of the
    * extraction, mention, triple and relation queries.
    */
  private[queries] def plantedPages(s: SparkSession, dir: String,
      caseSql: String): Dataset[Page] =
    graft.corpus.SynthPages.fromDocuments(s, t(s, dir, "documents").select(
      col("doc_id"), col("source"), col("lang"),
      expr(s"array_join(transform(split(text, ' '), (t, i) -> $caseSql), ' ')")
        .as("text")))
}
