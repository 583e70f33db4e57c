package graft.ops

import graft.{Materialize, Q, Tables}
import graft.sources.FatXml
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** XML extraction pack: both engines deterministically render an XML
  * notice per order (TED-style, or UK7_2023-style for orderkey%3=0, a
  * truncated/corrupt document for orderkey%89=0); Spark then runs the
  * real path — tag-sniff dispatch + from_xml + HOF flatten
  * (sources.FatXml) — while the oracle computes the expected wide row
  * relationally. Covers SURVEY X2 (TED fields: CPV sorted-unique join,
  * dual-NUTS coalesce, [@LG='EN'] title filter, TD→group), X3 (UKx
  * category→CTYPE, tags→group), X4 (priority dispatch), X5 (parse_error
  * audit rows). */
object Xml {

  /** Deterministic per-order XML documents (the q42 input half, exposed
    * so construct cost can be profiled separately from parse cost). */
  def docsTable(s: SparkSession, d: String): DataFrame = {
    val k = col("o_orderkey")
    val price = col("o_totalprice").cast(DecimalType(18, 2)).cast("string")
    val tdCode = when(col("o_orderstatus") === "F", "7")
      .when(col("o_orderstatus") === "O", "3").otherwise("0")
    val nutsElem = when(k % 2 === 0,
      concat(lit("""<NUTS2016 CODE="UKC1"""), (k % 5).cast("string"), lit("\"/>")))
      .otherwise(concat(lit("""<NUTS2021 CODE="UKD2"""), (k % 5).cast("string"), lit("\"/>")))
    val cat = when(k % 4 === 0, "Works")
      .when(k % 4 === 1, "Professional Services")
      .when(k % 4 === 2, "supply of goods")
      .otherwise("misc")
    val tags = when(k % 2 === 0, "<TAG>award</TAG><TAG>live</TAG>")
      .otherwise("<TAG>planning</TAG><TAG>live</TAG>")
    val tedXml = concat(
      lit("""<TED_EXPORT><TD_DOCUMENT_TYPE CODE=""""), tdCode, lit("\"/>"),
      lit("<NOTICE_DATA><NO_DOC_OJS>2024/S-"), k.cast("string"), lit("</NO_DOC_OJS>"),
      lit("""<ORIGINAL_CPV CODE="45"""), (k % 10).cast("string"), lit("""000">descA</ORIGINAL_CPV>"""),
      lit("""<ORIGINAL_CPV CODE="30"""), (k % 7).cast("string"), lit("""000">descB</ORIGINAL_CPV>"""),
      nutsElem, lit("</NOTICE_DATA>"),
      lit("<TRANSLATION_SECTION><ML_TITLES>"),
      lit("""<ML_TI_DOC LG="FR"><TI_TEXT>titre-"""), k.cast("string"), lit("</TI_TEXT></ML_TI_DOC>"),
      lit("""<ML_TI_DOC LG="EN"><TI_TEXT>title-"""), k.cast("string"), lit("</TI_TEXT></ML_TI_DOC>"),
      lit("</ML_TITLES></TRANSLATION_SECTION>"),
      lit("<CONTRACTING_BODY><OFFICIALNAME>"), col("c_name"), lit("</OFFICIALNAME></CONTRACTING_BODY>"),
      lit("""<OBJECT_CONTRACT><VAL_TOTAL CURRENCY="GBP">"""), price,
      lit("</VAL_TOTAL></OBJECT_CONTRACT></TED_EXPORT>"))
    val ukXml = concat(
      lit("<UK7_2023><NOTICE_ID>UK7-"), k.cast("string"), lit("</NOTICE_ID>"),
      lit("<TENDER><TITLE>"), col("o_orderpriority"), lit("</TITLE>"),
      lit("<VALUE>"), price, lit("</VALUE>"),
      lit("<CATEGORY>"), cat, lit("</CATEGORY></TENDER>"),
      lit("<BUYER><NAME>"), col("c_name"), lit("</NAME></BUYER>"),
      lit("<TAGS>"), tags, lit("</TAGS></UK7_2023>"))
    val xml = when(k % 3 === 0, ukXml).otherwise(tedXml)
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(when(k % 89 === 0, substring(xml, 1, 40)).otherwise(xml).as("xml"))
  }

  val q42XmlFlatten: Q = Q(
    "q42_xml_flatten",
    """WITH o AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st, o_orderpriority AS pri,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, c_name
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |)
      |SELECT
      |  CASE WHEN k % 3 = 0 THEN 'UK7_2023' ELSE 'TED' END AS source_form,
      |  CASE WHEN k % 89 = 0 THEN NULL
      |       WHEN k % 3 = 0 THEN 'UK7-' || CAST(k AS VARCHAR)
      |       ELSE '2024/S-' || CAST(k AS VARCHAR) END AS doc_id,
      |  CASE WHEN k % 89 = 0 THEN NULL
      |       WHEN k % 3 = 0 THEN pri
      |       ELSE 'title-' || CAST(k AS VARCHAR) END AS title,
      |  CASE WHEN k % 89 = 0 THEN NULL ELSE c_name END AS buyer_name,
      |  CASE WHEN k % 89 = 0 OR k % 3 = 0 THEN NULL
      |       ELSE '30' || CAST(k % 7 AS VARCHAR) || '000;45' || CAST(k % 10 AS VARCHAR) || '000' END AS cpv_codes,
      |  CASE WHEN k % 89 = 0 OR k % 3 = 0 THEN NULL
      |       WHEN k % 2 = 0 THEN 'UKC1' || CAST(k % 5 AS VARCHAR)
      |       ELSE 'UKD2' || CAST(k % 5 AS VARCHAR) END AS nuts,
      |  CAST(CASE WHEN k % 89 = 0 THEN NULL ELSE price END AS DOUBLE) AS value_amount,
      |  CASE WHEN k % 89 = 0 OR k % 3 = 0 THEN NULL ELSE 'GBP' END AS currency,
      |  CASE WHEN k % 89 = 0 OR k % 3 = 0 THEN NULL
      |       WHEN st = 'F' THEN 'CONTRACT_AWARD'
      |       WHEN st = 'O' THEN 'CONTRACT_NOTICE'
      |       ELSE 'PIN' END AS notice_type_group,
      |  CASE WHEN k % 89 = 0 OR k % 3 <> 0 THEN NULL
      |       WHEN k % 4 = 0 THEN 'WORKS'
      |       WHEN k % 4 = 1 THEN 'SERVICES'
      |       WHEN k % 4 = 2 THEN 'SUPPLIES'
      |       ELSE NULL END AS ctype,
      |  CASE WHEN k % 89 = 0 OR k % 3 <> 0 THEN NULL
      |       WHEN k % 2 = 0 THEN 'UK7_AWARD' ELSE 'PLANNING' END AS tag_group,
      |  CASE WHEN k % 89 = 0 THEN 'unparseable_or_unknown_form' END AS parse_error
      |FROM o ORDER BY source_form, doc_id NULLS FIRST, buyer_name NULLS FIRST, value_amount NULLS FIRST""") { (s, d) =>
    // barrier BEFORE the parse: the constructed-docs scan is one small
    // file -> one partition, and from_xml is the expensive stage — the
    // round-robin exchange spreads the parse across all cores (a real
    // ingest would instead size spark.sql.files.maxPartitionBytes so the
    // scan itself parallelizes); the checkpoint AFTER keeps the global
    // sort's range sampling from re-running the parse without paying a
    // second exchange of the parsed rows (the q35 pattern).
    val docs = Q.stageBarrier(docsTable(s, d))
    FatXml.extract(docs, Seq.empty)
        .withColumn("value_amount", col("value_amount").cast("double"))
        .transform(Materialize.snapshot)
      .orderBy(col("source_form"), col("doc_id").asc_nulls_first,
        col("buyer_name").asc_nulls_first, col("value_amount").asc_nulls_first)
  }

  val all: Seq[Q] = Seq(q42XmlFlatten)
}
