package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Present.PresentOps

/** URL / source curation — the stage every crawl pipeline runs FIRST
  * (RefinedWeb §G.1's URL filtering, CCNet's source scoring): host
  * canonicalization, registrable-domain (eTLD+1) extraction, and
  * blocklist/allowlist scoring, feeding per-host aggregates and the
  * funnel's new stage-2 gate. The reference has no crawl surface; this
  * extends the curation family ([[Curation]], [[Funnel]]) upstream of
  * text.
  *
  * The documents fixture carries no URL column, so the gate PLANTS one
  * deterministically from (doc_id, source) — mixed-case schemes, WWW
  * prefixes, subdomains, ports, and a multi-label public suffix are
  * all planted so canonicalization has something real to normalize
  * (the [[Multimodal]] synthetic-payload precedent; the oracle plants
  * the identical string).
  *
  * Scale shape: canonicalization and suffix extraction are pure
  * per-row expressions (no UDF — regexp/split/slice stay inside
  * whole-stage codegen). The block/allow lists ride BROADCAST joins:
  * at production scale they are loaded artifacts (the public-suffix
  * list plus a curated domain list, a few MB — exactly the broadcast
  * regime), here they are built in-plan from the corpus' own distinct
  * domains because a gate query is self-contained. Per-host stats are
  * one hash exchange on the domain key — the same shuffle the
  * aggregation defines.
  */
object Urls {

  /** The planted URL: deterministic per (doc_id, source), with every
    * canonicalization hazard represented — uppercase scheme (every
    * 5th), WWW. prefix (7th), a cdn subdomain (3rd), four TLDs
    * including the multi-label co.uk, an explicit port (11th). */
  private[ext] def urlOf: Column = concat(
    when(col("doc_id") % 5 === 0, lit("HTTP://")).otherwise(lit("https://")),
    when(col("doc_id") % 7 === 0, lit("WWW.")).otherwise(lit("")),
    when(col("doc_id") % 3 === 0, lit("cdn.")).otherwise(lit("")),
    col("source"),
    // TLD keys on doc_id DIV 20, independent of the source (which is
    // doc_id MOD 20 in the fixture) — so every source spans all four
    // TLDs and the allowlist override below is a live branch, not a
    // vacuously-planted one (a `doc_id % 4` TLD would be determined by
    // the source and src13.co.uk would never exist)
    element_at(array(lit(".com"), lit(".org"), lit(".net"), lit(".co.uk")),
               (expr("doc_id div 20") % 4 + 1).cast(IntegerType)),
    when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
    lit("/p/"), col("doc_id").cast(StringType))

  /** Canonical host from a URL: lowercase, authority before the first
    * `/`, port stripped, leading `www.` stripped. */
  private[ext] def hostOf(url: Column): Column =
    regexp_replace(
      split(regexp_extract(lower(url), "^[a-z]+://([^/]+)", 1), ":")
        .getItem(0),
      "^www\\.", "")

  /** Registrable domain (eTLD+1): last two labels, except under a
    * multi-label public suffix where it is last three. The gate's
    * suffix set is the single `co.uk` (enough to exercise the PSL
    * mechanics); a deployment swaps in the full public-suffix list as
    * a broadcast longest-match join — the rule's shape (label slicing
    * from the right) is unchanged. */
  private[ext] def registrableOf(host: Column): Column = {
    val ls = split(host, "\\.")
    when(size(ls) >= 3 &&
         element_at(ls, -2) === "co" && element_at(ls, -1) === "uk",
         concat_ws(".", slice(ls, -3, 3)))
      .otherwise(when(size(ls) >= 2, concat_ws(".", slice(ls, -2, 2)))
        .otherwise(host))
  }

  /** Documents with planted url, canonical host, registrable domain. */
  private def withUrl(docs: DataFrame): DataFrame = {
    val host = hostOf(col("url"))
    docs.withColumn("url", urlOf)
      .withColumn("host", host)
      .withColumn("domain", registrableOf(col("host")))
  }

  /** The planted curation lists: sources src1, src7, src10 and src13
    * are BLOCKED at the registrable-domain level, and the single domain
    * src13.co.uk is ALLOWLISTED back in — so the gate exercises the
    * override order (allow beats block), not just membership. src10 is
    * in the set deliberately: its residue is ≡ 0 mod [[Dedup.IncrMod]],
    * so the INCREMENT split contains blocked docs too and the funnel's
    * per-batch url stage provably filters (the other three are ≢ 0 mod
    * 5 — without src10 the increment would never meet the blocklist and
    * the stage would be untested there).
    *
    * Plan shape (r21, guide §2.4): the original spelling built each
    * list as `distinct domains FROM THE CORPUS matching the regex` and
    * LEFT-JOINED it back on `domain` — but a row's own domain is in the
    * corpus by definition, so membership in that list is exactly the
    * regex evaluated on the row's own domain. The two broadcast builds
    * (each a full scan + distinct exchange) were tautological and are
    * replaced by per-row predicates — measured 1.42 s → ~0.35 s for
    * the funnel's URL flag stage, identical rows (the shared oracle
    * still spells the join, pinning the equivalence). At production scale the lists are
    * EXTERNAL artifacts (the public-suffix list plus a curated domain
    * file) and the broadcast-join shape returns — the identity only
    * holds when the list is derived from the probed corpus itself. */
  private def blockOf(domain: Column): Column =
    domain.rlike("^src(1|7|10|13)\\.")
  private def allowOf(domain: Column): Column =
    domain.rlike("^src13\\.co\\.uk$")
  private val onBlock: Column = blockOf(col("domain"))
  private val onAllow: Column = allowOf(col("domain"))

  /** The stage-2 verdict as ONE per-row expression over (doc_id, source)
    * — no join, no second scan (r22, guide §2.4): [[Funnel.flaggedDocs]]
    * previously joined a (doc_id, url_kept) flag frame back on doc_id,
    * but that frame derives 1:1 from the same documents scan it was
    * probed against, so the join was a provable identity (the r21
    * list-join elimination one level up). Exactly [[curated]]'s `kept` column, inlined. */
  private[ext] def keptExpr: Column = {
    val dom = registrableOf(hostOf(urlOf))
    allowOf(dom) || !blockOf(dom)
  }

  /** Per-document URL curation verdicts: (doc_id, host, domain,
    * on_blocklist, on_allowlist, kept) — pure per-row expressions, one
    * scan, no exchange. */
  private def curated(docs: DataFrame): DataFrame =
    withUrl(docs)
      .select(col("doc_id"), col("host"), col("domain"),
        onBlock.as("on_blocklist"), onAllow.as("on_allowlist"),
        (onAllow || !onBlock).as("kept"))

  /** Gate query: the per-document curation manifest. */
  def urlCurate(spark: SparkSession, dir: String): DataFrame =
    curated(Tables.documents(spark, dir).select(col("doc_id"), col("source")))
      .presentSorted(col("doc_id"))

  /** Gate query: per-registrable-domain crawl report — document count,
    * distinct canonical hosts under the domain, blocked/kept splits.
    * This is the table an operator reads next to [[Curation.domainCaps]]
    * when sizing per-domain caps: the cap key should be THIS domain
    * (www/cdn/port variants collapse onto it), not the raw source. */
  def urlHostStats(spark: SparkSession, dir: String): DataFrame =
    curated(Tables.documents(spark, dir).select(col("doc_id"), col("source")))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("host")).as("n_hosts"),
           sum(when(col("kept"), 0L).otherwise(1L)).as("n_blocked"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .presentSorted(col("domain"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "url_curate" -> ((s, d) => urlCurate(s, d)),
    "url_host_stats" -> ((s, d) => urlHostStats(s, d)))

  /** The planted URL, spelled in DuckDB. */
  private[ext] val UrlSql: String =
    """(CASE WHEN doc_id % 5 = 0 THEN 'HTTP://' ELSE 'https://' END) ||
      |(CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END) ||
      |(CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END) ||
      |source ||
      |(['.com', '.org', '.net', '.co.uk'])[((doc_id // 20) % 4 + 1)::INT] ||
      |(CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
      |'/p/' || doc_id""".stripMargin.replace("\n", " ")

  /** Shared oracle CTE chain `uu` (doc_id, host, domain) →
    * `ub`/`ua` (lists) → `uf` (doc_id, on_block, on_allow, ukeep). */
  private[ext] val KeepCtes: String =
    s"""uu AS MATERIALIZED (
       |  SELECT doc_id, host,
       |    CASE WHEN len(ls) >= 3 AND ls[-2] = 'co' AND ls[-1] = 'uk'
       |         THEN array_to_string(ls[-3:], '.')
       |         WHEN len(ls) >= 2 THEN array_to_string(ls[-2:], '.')
       |         ELSE host END AS domain
       |  FROM (SELECT doc_id, host, string_split(host, '.') AS ls
       |        FROM (SELECT doc_id,
       |                regexp_replace(
       |                  string_split(
       |                    regexp_extract(lower($UrlSql),
       |                                   '^[a-z]+://([^/]+)', 1),
       |                    ':')[1],
       |                  '^www\\.', '') AS host
       |              FROM documents))),
       |ub AS (SELECT DISTINCT domain FROM uu
       |       WHERE regexp_matches(domain, '^src(1|7|10|13)\\.')),
       |ua AS (SELECT DISTINCT domain FROM uu
       |       WHERE regexp_matches(domain, '^src13\\.co\\.uk$$')),
       |uf AS MATERIALIZED (
       |  SELECT uu.doc_id, uu.host, uu.domain,
       |    ub.domain IS NOT NULL AS on_block,
       |    ua.domain IS NOT NULL AS on_allow,
       |    (ua.domain IS NOT NULL OR ub.domain IS NULL) AS ukeep
       |  FROM uu LEFT JOIN ub ON ub.domain = uu.domain
       |          LEFT JOIN ua ON ua.domain = uu.domain)""".stripMargin

  val oracles: Map[String, String] = Map(
    "url_curate" ->
      s"""WITH $KeepCtes
         |SELECT doc_id, host, domain,
         |  on_block AS on_blocklist, on_allow AS on_allowlist,
         |  ukeep AS kept
         |FROM uf ORDER BY doc_id""".stripMargin,
    "url_host_stats" ->
      s"""WITH $KeepCtes
         |SELECT domain,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(count(*) FILTER (WHERE NOT ukeep) AS BIGINT) AS n_blocked,
         |  CAST(count(*) FILTER (WHERE ukeep) AS BIGINT) AS n_kept
         |FROM uf GROUP BY domain ORDER BY domain""".stripMargin)
}
