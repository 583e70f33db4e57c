package graft.ops

import graft.{Materialize, Q, Tables}
import graft.functions.RefFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OCDS-release flatten pack — the reference's core "query" (2a:255-643):
  * a nested release package flattened to one wide row per notice using
  * only Catalyst expressions and higher-order functions, covering every
  * section family of the reference flatten: release meta, planning
  * (budget, milestones, documents), tender (status/method/category/SME
  * suitability/periods/classification/documents/items/geography), buyer
  * party with address+contact (J1 lookup), supplier parties (J2
  * filter + A2 joins), and the first award with its documents (W1 + J3).
  *
  * Test shape: both engines deterministically construct an OCDS release
  * per order from the TPC-H tables. Spark then does the real thing —
  * serialize to a JSON string, parse back with `from_json`, flatten with
  * HOFs — while the DuckDB oracle computes the same ~108-column row
  * relationally, so the hash-compare verifies the entire parse→flatten
  * path.
  *
  * Scale: one groupBy(orderkey) builds the nested side (real ingest data
  * arrives already nested); the flatten itself is a narrow per-row
  * projection — scan-local, shuffle-free, whole-stage codegen.
  */
object Ocds {

  /** Closed OCDS-ish schema for from_json (cf SURVEY §1.2). Field set
    * mirrors the sections the reference reads (2a:255-643): documents
    * carry the full id/type/description/url/dates/format/language shape,
    * parties carry identifier + address + contact + details, awards carry
    * a contract period. */
  val releaseSchema: StructType = {
    val doc = StructType(Seq(
      StructField("id", StringType),
      StructField("documentType", StringType),
      StructField("description", StringType),
      StructField("url", StringType),
      StructField("datePublished", StringType),
      StructField("dateModified", StringType),
      StructField("format", StringType),
      StructField("language", StringType)))
    val value = StructType(Seq(
      StructField("amount", DecimalType(18, 2)),
      StructField("currency", StringType)))
    StructType(Seq(
      StructField("ocid", StringType),
      StructField("id", StringType),
      StructField("title", StringType),
      StructField("date", StringType),
      StructField("language", StringType),
      StructField("initiationType", StringType),
      StructField("tag", ArrayType(StringType)),
      StructField("buyer", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType)))),
      StructField("parties", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("identifier", StructType(Seq(
          StructField("scheme", StringType),
          StructField("id", StringType),
          StructField("legalName", StringType)))),
        StructField("roles", ArrayType(StringType)),
        StructField("region", StringType),
        StructField("address", StructType(Seq(
          StructField("streetAddress", StringType),
          StructField("locality", StringType),
          StructField("postalCode", StringType),
          StructField("countryName", StringType)))),
        StructField("contactPoint", StructType(Seq(
          StructField("name", StringType),
          StructField("email", StringType),
          StructField("telephone", StringType)))),
        StructField("details", StructType(Seq(
          StructField("scale", StringType),
          StructField("vcse", BooleanType),
          StructField("url", StringType)))))))),
      StructField("planning", StructType(Seq(
        StructField("budget", value),
        StructField("milestones", ArrayType(StructType(Seq(
          StructField("id", StringType),
          StructField("title", StringType),
          StructField("type", StringType),
          StructField("dueDate", StringType))))),
        StructField("documents", ArrayType(doc))))),
      StructField("tender", StructType(Seq(
        StructField("id", StringType),
        StructField("title", StringType),
        StructField("description", StringType),
        StructField("status", StringType),
        StructField("datePublished", StringType),
        StructField("procurementMethod", StringType),
        StructField("procurementMethodDetails", StringType),
        StructField("mainProcurementCategory", StringType),
        StructField("suitability", StructType(Seq(
          StructField("sme", BooleanType),
          StructField("vcse", BooleanType)))),
        StructField("tenderPeriod", StructType(Seq(
          StructField("startDate", StringType),
          StructField("endDate", StringType)))),
        StructField("contractPeriod", StructType(Seq(
          StructField("startDate", StringType),
          StructField("endDate", StringType)))),
        StructField("classification", StructType(Seq(
          StructField("scheme", StringType),
          StructField("id", StringType),
          StructField("description", StringType)))),
        StructField("additionalClassifications", ArrayType(StructType(Seq(
          StructField("id", StringType),
          StructField("description", StringType))))),
        StructField("value", value),
        StructField("minValue", value),
        StructField("documents", ArrayType(doc)),
        StructField("items", ArrayType(StructType(Seq(
          StructField("id", LongType),
          StructField("quantity", DecimalType(18, 2)),
          StructField("deliveryAddresses", ArrayType(StructType(Seq(
            StructField("postalCode", StringType),
            StructField("region", StringType),
            StructField("countryName", StringType)))))))))))),
      StructField("awards", ArrayType(StructType(Seq(
        StructField("id", StringType),
        StructField("date", StringType),
        StructField("datePublished", StringType),
        StructField("status", StringType),
        StructField("value", value),
        StructField("contractPeriod", StructType(Seq(
          StructField("startDate", StringType),
          StructField("endDate", StringType)))),
        StructField("suppliers", ArrayType(StructType(Seq(
          StructField("id", StringType),
          StructField("name", StringType))))),
        StructField("documents", ArrayType(doc))))))))
  }

  /** OCDS release PACKAGE (FIXTURES.md A2): top-level meta wrapping
    * `releases[]` — the reference consumes `releases[0]` (2a:276). */
  val packageSchema: StructType = StructType(Seq(
    StructField("uri", StringType),
    StructField("publishedDate", StringType),
    StructField("publisher", StructType(Seq(
      StructField("name", StringType),
      StructField("scheme", StringType),
      StructField("uid", StringType),
      StructField("uri", StringType)))),
    StructField("version", StringType),
    StructField("extensions", ArrayType(StringType)),
    StructField("license", StringType),
    StructField("publicationPolicy", StringType),
    StructField("releases", ArrayType(releaseSchema))))

  private def dec(c: Column) = c.cast(DecimalType(18, 2))

  /** One JSON release string per order, deterministically assembled. */
  def releaseJson(s: SparkSession, d: String): DataFrame = {
    // barriers: both base scans are single-row-group files -> one
    // partition, so the broadcast lookups + struct building before the
    // first real shuffle would otherwise run single-threaded
    val li = graft.Q.stageBarrier(Tables.lineitem(s, d))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("s_name"),
        col("l_linenumber"), dec(col("l_quantity")).as("qty"),
        concat(lit("PC"), (col("l_partkey") % 100).cast("string")).as("pc"),
        dec(col("l_extendedprice")).as("price"))
    val byOrder = li.groupBy(col("l_orderkey"))
      .agg(
        array_sort(collect_set(struct(col("l_suppkey"), col("s_name")))).as("sups"),
        array_sort(collect_list(struct(col("l_linenumber"), col("qty"), col("pc")))).as("items"),
        sum(col("price")).cast(DecimalType(18, 2)).as("award_total"))
    val base = graft.Q.stageBarrier(Tables.orders(s, d))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(byOrder, col("o_orderkey") === col("l_orderkey"))
    val k = col("o_orderkey")
    val ocid = concat(lit("ocds-"), k.cast("string"))
    val buyerId = concat(lit("c"), col("o_custkey").cast("string"))
    val buyerParty = struct(
      buyerId.as("id"), col("c_name").as("name"),
      struct(
        lit("GB-COH").as("scheme"),
        concat(lit("CH"), col("o_custkey").cast("string")).as("id"),
        concat(col("c_name"), lit(" Ltd")).as("legalName")).as("identifier"),
      array(lit("buyer")).as("roles"), col("n_name").as("region"),
      struct(
        concat(lit("St-"), (col("o_custkey") % 50).cast("string")).as("streetAddress"),
        concat(lit("City-"), (col("o_custkey") % 25).cast("string")).as("locality"),
        concat(lit("PS"), (col("o_custkey") % 1000).cast("string")).as("postalCode"),
        col("n_name").as("countryName")).as("address"),
      struct(
        concat(lit("Officer "), col("c_name")).as("name"),
        concat(lower(regexp_replace(col("c_name"), "#", "-")), lit("@example.gov.uk"))
          .as("email"),
        concat(lit("+44-20-"), (col("o_custkey") % 10000).cast("string")).as("telephone"))
        .as("contactPoint"),
      struct(
        lit(null: String).as("scale"),
        lit(null).cast("boolean").as("vcse"),
        concat(lit("https://buyers.example/c"), col("o_custkey").cast("string")).as("url"))
        .as("details"))
    val supParties = transform(col("sups"), sp => {
      val sk = sp.getField("l_suppkey")
      struct(
        concat(lit("s"), sk.cast("string")).as("id"),
        sp.getField("s_name").as("name"),
        struct(
          lit("GB-COH").as("scheme"),
          concat(lit("CH-S"), sk.cast("string")).as("id"),
          concat(sp.getField("s_name"), lit(" Ltd")).as("legalName")).as("identifier"),
        array(lit("supplier"), lit("payee")).as("roles"),
        lit(null: String).as("region"),
        struct(
          concat(lit("SSt-"), (sk % 50).cast("string")).as("streetAddress"),
          concat(lit("SCity-"), (sk % 25).cast("string")).as("locality"),
          concat(lit("SP"), (sk % 1000).cast("string")).as("postalCode"),
          lit("United Kingdom").as("countryName")).as("address"),
        lit(null).cast("struct<name:string,email:string,telephone:string>")
          .as("contactPoint"),
        struct(
          when(sk % 2 === 0, "sme").otherwise("large").as("scale"),
          (sk % 5 === 0).as("vcse"),
          concat(lit("https://suppliers.example/s"), sk.cast("string")).as("url"))
          .as("details"))
    })
    val tagStr = when(col("o_orderstatus") === "F", "award")
      .when(col("o_orderstatus") === "O", "tender").otherwise("planning")
    // budget must stay exact-scale-2 decimal arithmetic: a x0.9 multiply
    // lands on .925 halves where Spark (HALF_UP) and DuckDB (half-even)
    // round apart.
    def mkDoc(id: Column, dtype: Column, desc: Column, url: Column,
        pub: Column, mod: Column): Column = struct(
      id.as("id"), dtype.as("documentType"), desc.as("description"),
      url.as("url"), pub.as("datePublished"), mod.as("dateModified"),
      lit("text/html").as("format"), lit("en").as("language"))
    def dayT(offset: Int): Column =
      concat(date_format(date_add(col("o_orderdate"), offset), "yyyy-MM-dd"),
        lit("T00:00:00Z"))
    val planning = struct(
      struct((dec(col("o_totalprice")) - lit(BigDecimal("1000.00")))
        .cast(DecimalType(18, 2)).as("amount"),
        lit("GBP").as("currency")).as("budget"),
      array(
        struct(lit("m1").as("id"), lit("Engagement").as("title"),
          lit("engagement").as("type"),
          date_format(date_sub(col("o_orderdate"), 30), "yyyy-MM-dd").as("dueDate")),
        struct(lit("m2").as("id"), lit("Publication").as("title"),
          lit("publication").as("type"),
          date_format(date_sub(col("o_orderdate"), 10), "yyyy-MM-dd").as("dueDate"))).as("milestones"),
      array(mkDoc(concat(lit("doc-p-"), k.cast("string")),
        lit("plannedProcurementNotice"), lit("Planned procurement notice"),
        concat(lit("https://plan.example/"), ocid),
        dayT(-11), dayT(-9))).as("documents"))
    val tender = struct(
      concat(ocid, lit("-t")).as("id"),
      col("o_orderpriority").as("title"),
      concat(lit("Procurement of "), col("o_orderpriority")).as("description"),
      when(col("o_orderstatus") === "F", "complete")
        .when(col("o_orderstatus") === "O", "active").otherwise("planned").as("status"),
      concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T09:00:00Z"))
        .as("datePublished"),
      when(k % 2 === 0, "open").otherwise("selective").as("procurementMethod"),
      when(k % 2 === 0, "Open procedure").otherwise("Selective tendering")
        .as("procurementMethodDetails"),
      when(k % 3 === 0, "works").when(k % 3 === 1, "services").otherwise("goods")
        .as("mainProcurementCategory"),
      struct((k % 2 === 0).as("sme"), (k % 5 === 0).as("vcse")).as("suitability"),
      struct(
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("startDate"),
        date_format(date_add(col("o_orderdate"), 40), "yyyy-MM-dd").as("endDate"))
        .as("tenderPeriod"),
      struct(
        date_format(date_add(col("o_orderdate"), 90), "yyyy-MM-dd").as("startDate"),
        date_format(date_add(col("o_orderdate"), 455), "yyyy-MM-dd").as("endDate"))
        .as("contractPeriod"),
      struct(
        lit("CPV").as("scheme"),
        concat(lit("CPV-45"), (k % 90).cast("string")).as("id"),
        lit("Construction work").as("description")).as("classification"),
      array(
        struct(concat(lit("AC-"), (k % 7).cast("string")).as("id"),
          lit("addl-a").as("description")),
        struct(concat(lit("AC-"), (k % 5).cast("string")).as("id"),
          lit("addl-b").as("description"))).as("additionalClassifications"),
      struct(dec(col("o_totalprice")).as("amount"), lit("GBP").as("currency")).as("value"),
      struct((dec(col("o_totalprice")) - lit(BigDecimal("500.00")))
        .cast(DecimalType(18, 2)).as("amount"), lit("GBP").as("currency")).as("minValue"),
      array(mkDoc(concat(lit("doc-t-"), k.cast("string")),
        lit("tenderNotice"), lit("Tender notice"),
        concat(lit("https://tender.example/"), ocid),
        dayT(1), dayT(2))).as("documents"),
      transform(col("items"), it => struct(
        it.getField("l_linenumber").cast("long").as("id"),
        it.getField("qty").as("quantity"),
        array(struct(it.getField("pc").as("postalCode"),
          col("n_name").as("region"),
          lit("United Kingdom").as("countryName"))).as("deliveryAddresses")))
        .as("items"))
    val award = struct(
      concat(ocid, lit("-a")).as("id"),
      date_format(date_add(col("o_orderdate"), 60), "yyyy-MM-dd").as("date"),
      dayT(61).as("datePublished"),
      lit("active").as("status"),
      struct(col("award_total").as("amount"), lit("GBP").as("currency")).as("value"),
      struct(
        date_format(date_add(col("o_orderdate"), 100), "yyyy-MM-dd").as("startDate"),
        date_format(date_add(col("o_orderdate"), 465), "yyyy-MM-dd").as("endDate"))
        .as("contractPeriod"),
      transform(col("sups"), sp =>
        struct(concat(lit("s"), sp.getField("l_suppkey").cast("string")).as("id"),
          sp.getField("s_name").as("name")))
        .as("suppliers"),
      array(mkDoc(concat(lit("doc-a-"), k.cast("string")),
        lit("awardNotice"), lit("Award notice"),
        concat(lit("https://notices.example/"), ocid),
        dayT(62), dayT(63))).as("documents"))
    val noAwards = lit(null).cast(releaseSchema("awards").dataType)
    val release = struct(
      ocid.as("ocid"),
      concat(ocid, lit("-r1")).as("id"),
      concat(lit("Notice for order "), k.cast("string")).as("title"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
      lit("en").as("language"),
      lit("tender").as("initiationType"),
      array(tagStr, lit("live")).as("tag"),
      struct(buyerId.as("id"), col("c_name").as("name")).as("buyer"),
      concat(array(buyerParty), supParties).as("parties"),
      planning.as("planning"),
      tender.as("tender"),
      when(col("o_orderstatus") === "F", array(award))
        .otherwise(noAwards).as("awards"))
    // wrap in the release package (FIXTURES.md A2): the flatten must
    // then select releases[0], as the reference does.
    val pkg = struct(
      concat(lit("https://api.example/packages/"), ocid).as("uri"),
      concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit("T00:00:00Z"))
        .as("publishedDate"),
      struct(lit("UK Government").as("name"), lit("GB-GOV").as("scheme"),
        lit("GB-GOV-01").as("uid"),
        lit("https://standard.example/publishers/GB-GOV-01").as("uri")).as("publisher"),
      lit("1.1").as("version"),
      array(lit("https://ext.example/lots"), lit("https://ext.example/suitability"))
        .as("extensions"),
      lit("OGL-UK-3.0").as("license"),
      lit("https://standard.example/policy").as("publicationPolicy"),
      array(release).as("releases"))
    base.select(col("o_orderkey"), to_json(pkg).as("release_json"))
  }

  /** q35 — the wide flatten: parse the JSON release and extract every
    * reference section shape with HOFs only (36 columns). */
  val q35OcdsFlatten: Q = Q(
    "q35_ocds_flatten",
    """WITH sup AS (
      |  SELECT l_orderkey AS ok, l_suppkey AS sk, any_value(s_name) AS sname
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY l_orderkey, l_suppkey
      |), sups AS (
      |  SELECT ok,
      |    string_agg('s' || CAST(sk AS VARCHAR), '|' ORDER BY sk) AS supplier_ids,
      |    string_agg(sname, '|' ORDER BY sk) AS supplier_names,
      |    string_agg(sname || ' Ltd', '|' ORDER BY sk) AS supplier_legal_names,
      |    string_agg('GB-COH', '|' ORDER BY sk) AS supplier_id_schemes,
      |    string_agg('CH-S' || CAST(sk AS VARCHAR), '|' ORDER BY sk) AS supplier_id_codes,
      |    string_agg('SSt-' || CAST(sk % 50 AS VARCHAR), '|' ORDER BY sk) AS supplier_streets,
      |    string_agg('SCity-' || CAST(sk % 25 AS VARCHAR), '|' ORDER BY sk) AS supplier_localities,
      |    string_agg('SP' || CAST(sk % 1000 AS VARCHAR), '|' ORDER BY sk) AS supplier_postcodes,
      |    string_agg('United Kingdom', '|' ORDER BY sk) AS supplier_countries,
      |    string_agg(CASE WHEN sk % 2 = 0 THEN 'sme' ELSE 'large' END, '|' ORDER BY sk) AS supplier_scales,
      |    string_agg(CASE WHEN sk % 5 = 0 THEN 'true' ELSE 'false' END, '|' ORDER BY sk) AS supplier_vcse_flags,
      |    string_agg('https://suppliers.example/s' || CAST(sk AS VARCHAR), '|' ORDER BY sk) AS supplier_details_urls,
      |    COUNT(*) AS n_supplier_parties
      |  FROM sup GROUP BY ok
      |), ranked AS (
      |  SELECT l_orderkey AS ok, 'PC' || CAST(l_partkey % 100 AS VARCHAR) AS pc,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber, CAST(l_quantity AS DECIMAL(18,2)),
      |               'PC' || CAST(l_partkey % 100 AS VARCHAR)) AS rn
      |  FROM lineitem
      |), pcs AS (
      |  SELECT ok, pc, MIN(rn) AS first_rn FROM ranked GROUP BY 1, 2
      |), pcj AS (
      |  SELECT ok, string_agg(pc, '|' ORDER BY first_rn) AS item_postcodes
      |  FROM pcs GROUP BY ok
      |), firstpc AS (
      |  SELECT ok, pc AS first_pc FROM ranked WHERE rn = 1
      |), itm AS (
      |  SELECT l_orderkey AS ok,
      |    string_agg(CAST(l_linenumber AS VARCHAR), '|' ORDER BY l_linenumber) AS item_ids
      |  FROM lineitem GROUP BY 1
      |), tot AS (
      |  SELECT l_orderkey AS ok,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS award_total,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT 'https://api.example/packages/ocds-' || CAST(o_orderkey AS VARCHAR) AS package_uri,
      |  strftime(o_orderdate, '%Y-%m-%d') || 'T00:00:00Z' AS published_date,
      |  'UK Government' AS publisher_name,
      |  'GB-GOV' AS publisher_scheme,
      |  'GB-GOV-01' AS publisher_uid,
      |  'https://standard.example/publishers/GB-GOV-01' AS publisher_uri,
      |  'OGL-UK-3.0' AS license,
      |  '1.1' AS ocds_version,
      |  'https://ext.example/lots|https://ext.example/suitability' AS extensions,
      |  'https://standard.example/policy' AS publication_policy,
      |  'ocds-' || CAST(o_orderkey AS VARCHAR) AS ocid,
      |  'ocds-' || CAST(o_orderkey AS VARCHAR) || '-r1' AS release_id,
      |  'Notice for order ' || CAST(o_orderkey AS VARCHAR) AS release_title,
      |  strftime(o_orderdate, '%Y-%m-%d') AS release_date,
      |  'en' AS language, 'tender' AS initiation_type,
      |  CASE o_orderstatus WHEN 'F' THEN 'award' WHEN 'O' THEN 'tender' ELSE 'planning' END AS notice_tag,
      |  (CASE o_orderstatus WHEN 'F' THEN 'award' WHEN 'O' THEN 'tender' ELSE 'planning' END) || '|live' AS release_tags_all,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) - 1000.00 AS DOUBLE) AS planning_budget,
      |  'GBP' AS planning_budget_currency,
      |  'm1|m2' AS planning_milestone_ids,
      |  'Engagement|Publication' AS planning_milestone_titles,
      |  'engagement|publication' AS milestone_types,
      |  strftime(o_orderdate - INTERVAL 30 DAY, '%Y-%m-%d') || '|' ||
      |    strftime(o_orderdate - INTERVAL 10 DAY, '%Y-%m-%d') AS milestone_dues,
      |  strftime(o_orderdate - INTERVAL 30 DAY, '%Y-%m-%d') AS first_milestone_due,
      |  'doc-p-' || CAST(o_orderkey AS VARCHAR) AS planning_doc_ids,
      |  'plannedProcurementNotice' AS planning_doc_types,
      |  'Planned procurement notice' AS planning_doc_descriptions,
      |  'https://plan.example/ocds-' || CAST(o_orderkey AS VARCHAR) AS planning_doc_url,
      |  strftime(o_orderdate - INTERVAL 11 DAY, '%Y-%m-%d') || 'T00:00:00Z' AS planning_doc_published,
      |  'text/html' AS planning_doc_formats,
      |  'en' AS planning_doc_languages,
      |  'ocds-' || CAST(o_orderkey AS VARCHAR) || '-t' AS tender_id,
      |  o_orderpriority AS tender_title,
      |  'Procurement of ' || o_orderpriority AS tender_description,
      |  CASE o_orderstatus WHEN 'F' THEN 'complete' WHEN 'O' THEN 'active' ELSE 'planned' END AS tender_status,
      |  strftime(o_orderdate, '%Y-%m-%d') || 'T09:00:00Z' AS tender_published,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'open' ELSE 'selective' END AS procurement_method,
      |  CASE WHEN o_orderkey % 2 = 0 THEN 'Open procedure' ELSE 'Selective tendering' END AS procurement_method_details,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'works' WHEN o_orderkey % 3 = 1 THEN 'services' ELSE 'goods' END AS main_category,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'WORKS' WHEN o_orderkey % 3 = 1 THEN 'SERVICES' ELSE 'SUPPLIES' END AS ctype,
      |  o_orderkey % 2 = 0 AS sme_suitable,
      |  o_orderkey % 5 = 0 AS vcse_suitable,
      |  strftime(o_orderdate, '%Y-%m-%d') AS tender_start,
      |  strftime(o_orderdate + INTERVAL 40 DAY, '%Y-%m-%d') AS tender_end,
      |  strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS contract_start,
      |  strftime(o_orderdate + INTERVAL 455 DAY, '%Y-%m-%d') AS contract_end,
      |  'CPV' AS cpv_scheme,
      |  'CPV-45' || CAST(o_orderkey % 90 AS VARCHAR) AS classification_id,
      |  'Construction work' AS cpv_description,
      |  CASE WHEN 'AC-' || CAST(o_orderkey % 7 AS VARCHAR) = 'AC-' || CAST(o_orderkey % 5 AS VARCHAR)
      |       THEN 'AC-' || CAST(o_orderkey % 7 AS VARCHAR)
      |       WHEN 'AC-' || CAST(o_orderkey % 7 AS VARCHAR) < 'AC-' || CAST(o_orderkey % 5 AS VARCHAR)
      |       THEN 'AC-' || CAST(o_orderkey % 7 AS VARCHAR) || ';AC-' || CAST(o_orderkey % 5 AS VARCHAR)
      |       ELSE 'AC-' || CAST(o_orderkey % 5 AS VARCHAR) || ';AC-' || CAST(o_orderkey % 7 AS VARCHAR)
      |  END AS additional_classification_ids,
      |  'addl-a;addl-b' AS additional_classification_descs,
      |  'https://tender.example/ocds-' || CAST(o_orderkey AS VARCHAR) AS tender_doc_url,
      |  'doc-t-' || CAST(o_orderkey AS VARCHAR) AS tender_doc_ids,
      |  'tenderNotice' AS tender_doc_types,
      |  'Tender notice' AS tender_doc_descriptions,
      |  strftime(o_orderdate + INTERVAL 1 DAY, '%Y-%m-%d') || 'T00:00:00Z' AS tender_doc_published,
      |  strftime(o_orderdate + INTERVAL 2 DAY, '%Y-%m-%d') || 'T00:00:00Z' AS tender_doc_modified,
      |  'text/html' AS tender_doc_formats,
      |  'en' AS tender_doc_languages,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS tender_value,
      |  'GBP' AS tender_value_currency,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) - 500.00 AS DOUBLE) AS tender_min_value,
      |  'GBP' AS tender_min_value_currency,
      |  CAST(n_items AS BIGINT) AS n_items,
      |  item_ids,
      |  item_postcodes,
      |  n_name AS delivery_regions_all,
      |  'United Kingdom' AS delivery_countries_all,
      |  first_pc AS delivery_postcode_first,
      |  n_name AS delivery_region_first,
      |  'United Kingdom' AS delivery_country_first,
      |  'c' || CAST(o_custkey AS VARCHAR) AS buyer_id,
      |  c_name AS buyer_name,
      |  c_name || ' Ltd' AS buyer_legal_name,
      |  'GB-COH' AS buyer_id_scheme,
      |  'CH' || CAST(o_custkey AS VARCHAR) AS buyer_id_code,
      |  n_name AS buyer_region,
      |  'St-' || CAST(o_custkey % 50 AS VARCHAR) AS buyer_street,
      |  'City-' || CAST(o_custkey % 25 AS VARCHAR) AS buyer_locality,
      |  'PS' || CAST(o_custkey % 1000 AS VARCHAR) AS buyer_postcode,
      |  n_name AS buyer_country,
      |  'Officer ' || c_name AS buyer_contact_name,
      |  lower(replace(c_name, '#', '-')) || '@example.gov.uk' AS buyer_contact_email,
      |  '+44-20-' || CAST(o_custkey % 10000 AS VARCHAR) AS buyer_contact_phone,
      |  'https://buyers.example/c' || CAST(o_custkey AS VARCHAR) AS buyer_details_url,
      |  'buyer' AS buyer_roles,
      |  supplier_ids, supplier_names, supplier_legal_names, supplier_id_schemes,
      |  supplier_id_codes, supplier_streets, supplier_localities,
      |  supplier_postcodes, supplier_countries, supplier_scales,
      |  supplier_vcse_flags, supplier_details_urls,
      |  'supplier|payee' AS supplier_roles,
      |  CAST(n_supplier_parties AS BIGINT) AS n_supplier_parties,
      |  CASE WHEN o_orderstatus = 'F' THEN 'ocds-' || CAST(o_orderkey AS VARCHAR) || '-a' END AS first_award_id,
      |  CAST(CASE WHEN o_orderstatus = 'F' THEN award_total END AS DOUBLE) AS first_award_value,
      |  CASE WHEN o_orderstatus = 'F' THEN 'GBP' END AS first_award_currency,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 60 DAY, '%Y-%m-%d') END AS award_date,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 61 DAY, '%Y-%m-%d') || 'T00:00:00Z' END AS award_published,
      |  CASE WHEN o_orderstatus = 'F' THEN 'active' END AS award_status,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 100 DAY, '%Y-%m-%d') END AS award_contract_start,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 465 DAY, '%Y-%m-%d') END AS award_contract_end,
      |  CASE WHEN o_orderstatus = 'F' THEN supplier_ids END AS award_supplier_ids,
      |  CASE WHEN o_orderstatus = 'F' THEN supplier_names END AS award_supplier_names,
      |  CASE WHEN o_orderstatus = 'F' THEN 'doc-a-' || CAST(o_orderkey AS VARCHAR) END AS award_doc_ids,
      |  CASE WHEN o_orderstatus = 'F' THEN 'awardNotice' END AS award_doc_types,
      |  CASE WHEN o_orderstatus = 'F' THEN 'Award notice' END AS award_doc_descriptions,
      |  CASE WHEN o_orderstatus = 'F' THEN 'https://notices.example/ocds-' || CAST(o_orderkey AS VARCHAR) END AS award_doc_url,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 62 DAY, '%Y-%m-%d') || 'T00:00:00Z' END AS award_doc_published,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 63 DAY, '%Y-%m-%d') || 'T00:00:00Z' END AS award_doc_modified,
      |  CASE WHEN o_orderstatus = 'F' THEN 'text/html' END AS award_doc_formats,
      |  CASE WHEN o_orderstatus = 'F' THEN 'en' END AS award_doc_languages,
      |  'Tender notice' AS tender_notice_description,
      |  CASE WHEN o_orderstatus = 'F' THEN 'Award notice' END AS award_notice_description,
      |  CASE WHEN o_orderstatus = 'F' THEN strftime(o_orderdate + INTERVAL 62 DAY, '%Y-%m-%d') || 'T00:00:00Z' END AS award_notice_published,
      |  CASE WHEN o_orderstatus = 'F' THEN 'text/html' END AS award_notice_format,
      |  CASE WHEN o_orderstatus = 'F' THEN 'en' END AS award_notice_language
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN sups ON sups.ok = o_orderkey
      |JOIN pcj ON pcj.ok = o_orderkey
      |JOIN firstpc ON firstpc.ok = o_orderkey
      |JOIN itm ON itm.ok = o_orderkey
      |JOIN tot ON tot.ok = o_orderkey
      |ORDER BY ocid""") { (s, d) =>
    // Sort the NARROW (key, json) rows first, then flatten: the global
    // sort's range exchange moves ~150 MB of JSON instead of ~2x that in
    // 124 wide columns (barrier pass + range pass), and the parse+flatten
    // projection runs once, after the exchange, on the 32 range
    // partitions — order is preserved because the projection is narrow.
    // The sort key is the same string the oracle orders by
    // (ocid = 'ocds-' || orderkey, unique), computed from the pre-parse
    // key column. Measured at sf0.1: shuffle w 360->208 MB, r 514->268 MB.
    val sorted = releaseJson(s, d).transform(Materialize.snapshot)
      .orderBy(concat(lit("ocds-"), col("o_orderkey").cast("string")))
    val parsed = sorted
      .select(from_json(col("release_json"), packageSchema).as("p"))
      .select(col("p"), firstOrNull(col("p").getField("releases")).as("r"))
    val p = col("p")
    val r = col("r")
    val buyerParty = findFirstById(r.getField("parties"), r.getField("buyer").getField("id"))
    val sups = partiesWithRole(r.getField("parties"), "supplier")
    val planning = r.getField("planning")
    val tender = r.getField("tender")
    val firstAward = firstOrNull(r.getField("awards"))
    val awardDoc = firstDocOfType(firstAward.getField("documents"), "awardNotice")
    val tenderDoc = firstDocOfType(tender.getField("documents"), "tenderNotice")
    val planDoc = firstDocOfType(planning.getField("documents"), "plannedProcurementNotice")
    parsed.select(
      p.getField("uri").as("package_uri"),
      p.getField("publishedDate").as("published_date"),
      p.getField("publisher").getField("name").as("publisher_name"),
      p.getField("publisher").getField("scheme").as("publisher_scheme"),
      p.getField("publisher").getField("uid").as("publisher_uid"),
      p.getField("publisher").getField("uri").as("publisher_uri"),
      p.getField("license").as("license"),
      p.getField("version").as("ocds_version"),
      pipeJoin(p.getField("extensions")).as("extensions"),
      p.getField("publicationPolicy").as("publication_policy"),
      r.getField("ocid").as("ocid"),
      r.getField("id").as("release_id"),
      r.getField("title").as("release_title"),
      r.getField("date").as("release_date"),
      r.getField("language").as("language"),
      r.getField("initiationType").as("initiation_type"),
      firstOrNull(r.getField("tag")).as("notice_tag"),
      pipeJoin(r.getField("tag")).as("release_tags_all"),
      planning.getField("budget").getField("amount").cast("double").as("planning_budget"),
      planning.getField("budget").getField("currency").as("planning_budget_currency"),
      pipeJoin(transform(planning.getField("milestones"), m => m.getField("id")))
        .as("planning_milestone_ids"),
      pipeJoin(transform(planning.getField("milestones"), m => m.getField("title")))
        .as("planning_milestone_titles"),
      pipeJoin(transform(planning.getField("milestones"), m => m.getField("type")))
        .as("milestone_types"),
      pipeJoin(transform(planning.getField("milestones"), m => m.getField("dueDate")))
        .as("milestone_dues"),
      firstOrNull(planning.getField("milestones")).getField("dueDate").as("first_milestone_due"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("id")))
        .as("planning_doc_ids"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("documentType")))
        .as("planning_doc_types"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("description")))
        .as("planning_doc_descriptions"),
      planDoc.getField("url").as("planning_doc_url"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("datePublished")))
        .as("planning_doc_published"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("format")))
        .as("planning_doc_formats"),
      pipeJoin(transform(planning.getField("documents"), dd => dd.getField("language")))
        .as("planning_doc_languages"),
      tender.getField("id").as("tender_id"),
      tender.getField("title").as("tender_title"),
      tender.getField("description").as("tender_description"),
      tender.getField("status").as("tender_status"),
      tender.getField("datePublished").as("tender_published"),
      tender.getField("procurementMethod").as("procurement_method"),
      tender.getField("procurementMethodDetails").as("procurement_method_details"),
      tender.getField("mainProcurementCategory").as("main_category"),
      ctypeFromCategory(tender.getField("mainProcurementCategory")).as("ctype"),
      tender.getField("suitability").getField("sme").as("sme_suitable"),
      tender.getField("suitability").getField("vcse").as("vcse_suitable"),
      tender.getField("tenderPeriod").getField("startDate").as("tender_start"),
      tender.getField("tenderPeriod").getField("endDate").as("tender_end"),
      tender.getField("contractPeriod").getField("startDate").as("contract_start"),
      tender.getField("contractPeriod").getField("endDate").as("contract_end"),
      tender.getField("classification").getField("scheme").as("cpv_scheme"),
      tender.getField("classification").getField("id").as("classification_id"),
      tender.getField("classification").getField("description").as("cpv_description"),
      joinUnique(transform(tender.getField("additionalClassifications"),
        c => c.getField("id"))).as("additional_classification_ids"),
      joinUnique(transform(tender.getField("additionalClassifications"),
        c => c.getField("description"))).as("additional_classification_descs"),
      tenderDoc.getField("url").as("tender_doc_url"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("id")))
        .as("tender_doc_ids"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("documentType")))
        .as("tender_doc_types"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("description")))
        .as("tender_doc_descriptions"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("datePublished")))
        .as("tender_doc_published"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("dateModified")))
        .as("tender_doc_modified"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("format")))
        .as("tender_doc_formats"),
      pipeJoin(transform(tender.getField("documents"), dd => dd.getField("language")))
        .as("tender_doc_languages"),
      tender.getField("value").getField("amount").cast("double").as("tender_value"),
      tender.getField("value").getField("currency").as("tender_value_currency"),
      tender.getField("minValue").getField("amount").cast("double").as("tender_min_value"),
      tender.getField("minValue").getField("currency").as("tender_min_value_currency"),
      size(tender.getField("items")).cast("long").as("n_items"),
      pipeJoin(transform(tender.getField("items"), it => it.getField("id").cast("string")))
        .as("item_ids"),
      pipeJoin(array_distinct(flatten(transform(
        tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"),
          a => a.getField("postalCode")))))).as("item_postcodes"),
      pipeJoin(array_distinct(flatten(transform(
        tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"),
          a => a.getField("region")))))).as("delivery_regions_all"),
      pipeJoin(array_distinct(flatten(transform(
        tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"),
          a => a.getField("countryName")))))).as("delivery_countries_all"),
      firstNonNullIn(flatten(transform(tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"), a => a.getField("postalCode")))))
        .as("delivery_postcode_first"),
      firstNonNullIn(flatten(transform(tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"), a => a.getField("region")))))
        .as("delivery_region_first"),
      firstNonNullIn(flatten(transform(tender.getField("items"),
        it => transform(it.getField("deliveryAddresses"), a => a.getField("countryName")))))
        .as("delivery_country_first"),
      buyerParty.getField("id").as("buyer_id"),
      buyerParty.getField("name").as("buyer_name"),
      buyerParty.getField("identifier").getField("legalName").as("buyer_legal_name"),
      buyerParty.getField("identifier").getField("scheme").as("buyer_id_scheme"),
      buyerParty.getField("identifier").getField("id").as("buyer_id_code"),
      buyerParty.getField("region").as("buyer_region"),
      buyerParty.getField("address").getField("streetAddress").as("buyer_street"),
      buyerParty.getField("address").getField("locality").as("buyer_locality"),
      buyerParty.getField("address").getField("postalCode").as("buyer_postcode"),
      buyerParty.getField("address").getField("countryName").as("buyer_country"),
      buyerParty.getField("contactPoint").getField("name").as("buyer_contact_name"),
      buyerParty.getField("contactPoint").getField("email").as("buyer_contact_email"),
      buyerParty.getField("contactPoint").getField("telephone").as("buyer_contact_phone"),
      buyerParty.getField("details").getField("url").as("buyer_details_url"),
      pipeJoin(buyerParty.getField("roles")).as("buyer_roles"),
      pipeJoin(transform(sups, pt => pt.getField("id"))).as("supplier_ids"),
      pipeJoin(transform(sups, pt => pt.getField("name"))).as("supplier_names"),
      pipeJoin(transform(sups, pt => pt.getField("identifier").getField("legalName")))
        .as("supplier_legal_names"),
      pipeJoin(transform(sups, pt => pt.getField("identifier").getField("scheme")))
        .as("supplier_id_schemes"),
      pipeJoin(transform(sups, pt => pt.getField("identifier").getField("id")))
        .as("supplier_id_codes"),
      pipeJoin(transform(sups, pt => pt.getField("address").getField("streetAddress")))
        .as("supplier_streets"),
      pipeJoin(transform(sups, pt => pt.getField("address").getField("locality")))
        .as("supplier_localities"),
      pipeJoin(transform(sups, pt => pt.getField("address").getField("postalCode")))
        .as("supplier_postcodes"),
      pipeJoin(transform(sups, pt => pt.getField("address").getField("countryName")))
        .as("supplier_countries"),
      pipeJoin(transform(sups, pt => pt.getField("details").getField("scale")))
        .as("supplier_scales"),
      pipeJoin(transform(sups, pt => pt.getField("details").getField("vcse").cast("string")))
        .as("supplier_vcse_flags"),
      pipeJoin(transform(sups, pt => pt.getField("details").getField("url")))
        .as("supplier_details_urls"),
      pipeJoin(array_distinct(flatten(transform(sups, pt => pt.getField("roles")))))
        .as("supplier_roles"),
      size(sups).cast("long").as("n_supplier_parties"),
      firstAward.getField("id").as("first_award_id"),
      firstAward.getField("value").getField("amount").cast("double").as("first_award_value"),
      firstAward.getField("value").getField("currency").as("first_award_currency"),
      firstAward.getField("date").as("award_date"),
      firstAward.getField("datePublished").as("award_published"),
      firstAward.getField("status").as("award_status"),
      firstAward.getField("contractPeriod").getField("startDate").as("award_contract_start"),
      firstAward.getField("contractPeriod").getField("endDate").as("award_contract_end"),
      pipeJoin(transform(firstAward.getField("suppliers"), sp => sp.getField("id")))
        .as("award_supplier_ids"),
      pipeJoin(transform(firstAward.getField("suppliers"), sp => sp.getField("name")))
        .as("award_supplier_names"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("id")))
        .as("award_doc_ids"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("documentType")))
        .as("award_doc_types"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("description")))
        .as("award_doc_descriptions"),
      awardDoc.getField("url").as("award_doc_url"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("datePublished")))
        .as("award_doc_published"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("dateModified")))
        .as("award_doc_modified"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("format")))
        .as("award_doc_formats"),
      pipeJoin(transform(firstAward.getField("documents"), dd => dd.getField("language")))
        .as("award_doc_languages"),
      // the reference's "links" section: the first tenderNotice /
      // awardNotice document surfaced as its own column family (J3)
      tenderDoc.getField("description").as("tender_notice_description"),
      awardDoc.getField("description").as("award_notice_description"),
      awardDoc.getField("datePublished").as("award_notice_published"),
      awardDoc.getField("format").as("award_notice_format"),
      awardDoc.getField("language").as("award_notice_language"))
  }

  /** q36 — X5 error capture: ~1/97 of releases are corrupted before the
    * parse; PERMISSIVE from_json yields null → rows become audit rows
    * with a parse_error status instead of being dropped (2b:484-490). */
  val q36OcdsErrors: Q = Q(
    "q36_ocds_errors",
    """SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'parse_error' ELSE 'ok' END AS status,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END) AS n_parsed
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val corrupted = releaseJson(s, d)
      .withColumn("release_json",
        when(col("o_orderkey") % 97 === 0,
          concat(lit("{corrupt::"), col("release_json"))).otherwise(col("release_json")))
    // Parse with a schema pruned to the one field read (Catalyst's
    // automatic json pruning does not reach through try_element_at, and
    // a corrupt document fails the whole parse regardless of schema
    // width, so the X5 audit semantics are unchanged): 6.0s -> 4.3s at
    // sf0.1, the residual being the JSON construction itself.
    val slim = StructType(Seq(StructField("releases", ArrayType(
      StructType(Seq(StructField("ocid", StringType)))))))
    corrupted
      .select(firstOrNull(from_json(col("release_json"), slim)
        .getField("releases")).as("r"))
      .select(when(col("r").getField("ocid").isNull, "parse_error").otherwise("ok").as("status"),
        col("r").getField("ocid").isNotNull.as("parsed"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        count(when(col("parsed"), 1)).as("n_parsed"))
      .orderBy("status")
  }

  val all: Seq[Q] = Seq(q35OcdsFlatten, q36OcdsErrors)
}
