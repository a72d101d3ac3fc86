package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL/domain-level corpus curation (q100) — the FineWeb/C4-style
  * pipeline stage the registry lacked: web corpora are filtered and
  * profiled by the REGISTRABLE DOMAIN of each document's source URL
  * (Penedo et al. 2024 §3.1 — domain blocklists are the first gate of
  * every web-scale curation recipe; Raffel et al. 2020 §2.2 filters
  * "sources on a blocklist"). Two pieces:
  *
  *   - a blocklist gate: drop every document whose domain appears in a
  *     curated blocklist (an anti-join — at production size blocklists
  *     are a few million short strings, comfortably broadcastable);
  *   - a per-domain profile: document count, duplicate-involved count
  *     and fraction (against the near-dup cluster map — the q44 staged
  *     artifact), total bytes, and mean q28 quality. The profile is
  *     what domain-level curation DECIDES from: a domain with high
  *     dup-involvement or low mean quality gets demoted or dropped
  *     wholesale, which is cheaper and safer than per-document
  *     scoring for template farms and mirror sites.
  *
  * Scale shape: one corpus scan computes quality row-locally and
  * derives the domain; the blocklist is a broadcast anti-join (never a
  * shuffle of the corpus); the cluster map attaches by one equi-join
  * on doc_id (the map is dup-volume ≪ corpus — broadcast when small,
  * shuffle-join at worst); the profile is one partial-aggregating
  * shuffle on the domain key (domains ≪ documents, Zipf-ish but the
  * aggregate is associative so map-side combine absorbs the skew).
  *
  * The fixture has no url column, so the query derives a deterministic
  * synthetic URL from doc_id on BOTH engines (the q52/q81 planting
  * pattern) and extracts the host with `parse_url` (Spark) /
  * `regexp_extract` (DuckDB) — same host, same downstream expressions,
  * driver-hash-checked end to end.
  */
object DomainCuration {

  private val Tlds = Seq("com", "org", "net", "io", "edu")

  /** Blocked registrable domains — every `siteN.tld` with N ≡ 3 (mod 7):
    * 25 entries, deterministic on both engines.
    */
  val BlockedDomains: Seq[String] =
    for { n <- 0 to 36 if n % 7 == 3; t <- Tlds } yield s"site$n.$t"

  /** Deterministic synthetic URL for a doc_id (fixture stand-in for a
    * crawl's source URL): host cycles 37 sites × 5 TLDs (coprime, so
    * 185 distinct domains), path and query carry the id.
    */
  def syntheticUrl(docId: Column): Column = concat(
    lit("https://www.site"), (docId % 37).cast("string"),
    lit("."), element_at(array(Tlds.map(lit): _*), (docId % 5).cast("int") + 1),
    lit("/p/"), docId.cast("string"),
    lit("?ref=r"), (docId % 11).cast("string"))

  /** Registrable domain of a url column: `parse_url` host with any
    * leading `www.` stripped.
    */
  def domainOf(url: Column): Column =
    regexp_replace(parse_url(url, lit("HOST")), "^www\\.", "")

  /** Per-domain curation profile over a `(doc_id, domain, quality,
    * n_chars)` frame, a `(doc_id, cluster_id)` near-dup cluster map and
    * a single-column `domain` blocklist:
    * `(domain, tld, n_docs, n_dup_docs, dup_frac, total_chars,
    * mean_quality)` for every non-blocked domain. The quality mean goes
    * through DECIMAL(18,6) (registry determinism rule) so both engines
    * sum exactly.
    */
  def domainProfile(docs: DataFrame, clusters: DataFrame,
      blocklist: DataFrame): DataFrame =
    docs
      .join(broadcast(blocklist.select(col("domain"))), Seq("domain"), "left_anti")
      .join(clusters.select(col("doc_id"), lit(1L).as("is_dup")),
        Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(0L)))
      .groupBy(col("domain"),
        regexp_extract(col("domain"), "\\.([a-z]+)$", 1).as("tld"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("quality").cast("decimal(18,6)")).as("qsum"))
      .select(col("domain"), col("tld"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_frac"),
        col("total_chars"),
        (col("qsum").cast("double") / col("n_docs").cast("double"))
          .as("mean_quality"))

  private def q100(s: SparkSession, d: String): DataFrame = {
    val scored = TextAnalysis.withQuality(Tables.documents(s, d))
      .select(col("doc_id"), col("n_chars"), col("quality"))
      .withColumn("domain", domainOf(syntheticUrl(col("doc_id"))))
    import s.implicits._
    domainProfile(scored, Dedup.stagedClusters(s, d),
      BlockedDomains.toDF("domain"))
  }

  private val o100 = {
    val blocked = BlockedDomains.map(b => s"'$b'").mkString(", ")
    s"""WITH RECURSIVE ${Dedup.candidateCtes},
       |${Dedup.clusterCtes},
       |${TextAnalysis.qualityCtes("", p = "dom")},
       |u AS (
       |  SELECT d.doc_id, d.n_chars, qq.quality,
       |         'https://www.site' || CAST(d.doc_id % 37 AS VARCHAR) ||
       |         '.' || (['com', 'org', 'net', 'io', 'edu'])[CAST(d.doc_id % 5 AS INTEGER) + 1] ||
       |         '/p/' || CAST(d.doc_id AS VARCHAR) ||
       |         '?ref=r' || CAST(d.doc_id % 11 AS VARCHAR) AS url
       |  FROM documents d JOIN domq qq USING (doc_id)),
       |h AS (
       |  SELECT doc_id, n_chars, quality,
       |         regexp_replace(regexp_extract(url, 'https?://([^/?#]+)', 1),
       |                        '^www\\.', '') AS domain
       |  FROM u),
       |p AS (
       |  SELECT h.doc_id, h.n_chars, h.quality, h.domain,
       |         CASE WHEN cl.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |  FROM h LEFT JOIN cl ON h.doc_id = cl.doc_id
       |  WHERE h.domain NOT IN ($blocked))
       |SELECT domain,
       |       regexp_extract(domain, '\\.([a-z]+)$$', 1) AS tld,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       |       CAST(sum(is_dup) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_frac,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) /
       |         CAST(count(*) AS DOUBLE) AS mean_quality
       |FROM p GROUP BY domain""".stripMargin
  }

  // ---- q114: URL canonicalization + URL-level exact dedup ----------------
  // The ZEROTH dedup pass of every crawl pipeline, upstream even of
  // q22's content hash: the same page is fetched under many URL
  // spellings (scheme, www, host case, trailing slash, tracking
  // params, fragments), and crawl curation collapses those BEFORE
  // paying to fetch/store/compare bodies (CommonCrawl dedups per
  // snapshot by URL; FineWeb §3.1 applies URL-level filtering first).
  // Canonical form: https scheme, lowercased host, `www.` stripped,
  // fragment dropped, tracking params (`utm_*`/`ref`/`fbclid`)
  // dropped, trailing slash stripped — semantic params (`id=`)
  // survive. Output: one row per canonical URL with the kept
  // representative (min doc_id), the group size and the distinct raw
  // spellings it absorbed.
  //
  // Scale shape: canonicalization is a row-local regex chain over one
  // corpus scan (codegen'd string ops, no UDF), then exactly q22's
  // hash-groupBy — one partial-aggregating shuffle on the canonical
  // key; map-side combine absorbs the Zipf head (hot pages). The
  // fixture has no url column, so a deterministic MESSY url derives
  // from doc_id on BOTH engines (the q100 planting pattern) with
  // ~5 spellings per page identity.

  /** Deterministic messy URL for a doc_id: page identity = doc_id %
    * 101 (5 docs per page at sf0.01), spelling varies by doc_id —
    * scheme (%2), www (%3), host case (%5), default port `:80`/`:443`
    * (%13), percent-escape case in the path (%17, paired with %2 so
    * both hex casings occur), param shape (%8: id+utm / utm only /
    * id / bare / utm-LEADING-then-id / id+two-tracking / id / bare),
    * trailing slash (bare docs, %7), fragment (%11). The %8=4 shape
    * puts a tracking param FIRST (exercises the `&`→`?` separator
    * repair) and %8=5 carries TWO tracking params (exercises
    * replace-ALL semantics — DuckDB needs the explicit 'g' flag).
    */
  def messyUrl(docId: Column): Column = {
    val page = docId % 101
    val host = concat(lit("site"), (page % 13).cast("string"), lit("."),
      element_at(array(Tlds.map(lit): _*), (page % 5).cast("int") + 1))
    val scheme = when(docId % 2 === 0, "http").otherwise("https")
    val www = when(docId % 3 === 0, "www.").otherwise("")
    val cased = when(docId % 5 === 0, upper(host)).otherwise(host)
    val port = when(docId % 13 === 0,
      when(docId % 2 === 0, ":80").otherwise(":443")).otherwise("")
    val pageS = page.cast("string")
    val path = when(docId % 17 === 0,
        concat(lit("/p%"), when(docId % 2 === 0, "2f").otherwise("2F"),
          lit("x/"), pageS))
      .otherwise(concat(lit("/p/"), pageS))
    val trk = (docId % 7).cast("string")
    val query = when(docId % 8 === 0,
        concat(lit("?id="), pageS, lit("&utm_source=s"), trk))
      .when(docId % 8 === 1, concat(lit("?utm_campaign=c"), trk))
      .when(docId % 8 === 2, concat(lit("?id="), pageS))
      .when(docId % 8 === 4,
        concat(lit("?utm_campaign=c"), trk, lit("&id="), pageS))
      .when(docId % 8 === 5,
        concat(lit("?id="), pageS, lit("&utm_source=s"), trk,
          lit("&ref=r"), (docId % 3).cast("string")))
      .when(docId % 8 === 6, concat(lit("?id="), pageS))
      .otherwise(when(docId % 7 === 0, "/").otherwise(""))
    val frag = when(docId % 11 === 0,
      concat(lit("#sec"), (docId % 3).cast("string"))).otherwise("")
    concat(scheme, lit("://"), www, cased, port, path, query, frag)
  }

  /** Uppercase the hex of every %XX percent-escape (RFC 3986 §6.2.2.1:
    * escape hex is case-insensitive, so `%2f` and `%2F` are the same
    * octet and must share a canonical spelling). Row-local: one split
    * on '%', a guarded two-char uppercase per segment, rejoin. A '%'
    * not followed by two hex chars (malformed escape) passes through
    * untouched.
    */
  private[operators] def pctUpper(u: Column): Column = {
    val parts = split(u, "%", -1)
    when(size(parts) === 1, u).otherwise(concat(
      element_at(parts, 1), lit("%"),
      array_join(transform(slice(parts, lit(2), size(parts)), x =>
        when(substring(x, 1, 2).rlike("^[0-9a-fA-F]{2}$"),
          concat(upper(substring(x, 1, 2)), substring(x, 3, Int.MaxValue)))
          .otherwise(x)), "%")))
  }

  /** Canonical form of a url column (row-local, codegen'd — a regex
    * chain plus the [[pctUpper]] split and the [[graft.functions.IdnAsciiHost]]
    * native fold). Steps, in order: drop the fragment; strip tracking
    * params (`utm_*`/`ref`/`fbclid`, ALL occurrences); repair a
    * now-leading `&` back to `?` (a stripped FIRST param leaves
    * `/p&id=9` otherwise — round-14 ADVICE); lowercase the
    * scheme+host head and force https; strip `www.`; strip the
    * default `:80`/`:443` port; punycode-fold a non-ASCII host
    * (ASCII = identity, so the DuckDB twin — which has no punycode —
    * matches on any ASCII corpus and DomainCurationSpec pins the
    * Unicode case); uppercase percent-escape hex in the path+query;
    * strip one trailing slash. The DuckDB twin in o114 mirrors every
    * step with the same regexes (backref syntax `$1` vs `\\1` and the
    * explicit 'g' flag are the only differences).
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[a-z]+|ref|fbclid)=[^&#]*", "")
    // a stripped LEADING tracking param leaves '&' as the first
    // separator: rewrite the first '&' to '?' when no '?' precedes it
    val fixedSep = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val head = lower(regexp_extract(fixedSep, "(?i)^https?://[^/?#]+", 0))
    val rest = regexp_replace(fixedSep, "(?i)^https?://[^/?#]+", "")
    val normHead = regexp_replace(
      regexp_replace(regexp_replace(head, "^http://", "https://"),
        "^(https://)www\\.", "$1"),
      ":(80|443)$", "")
    concat(graft.functions.IdnAsciiHost(normHead),
      pctUpper(regexp_replace(rest, "/$", "")))
  }

  /** URL-level dedup groups of a `(doc_id, url)` frame: one row per
    * canonical URL — `(canon_url, keep_id, n_docs, n_raw)`.
    */
  def urlDedupGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("url"),
        canonicalizeUrl(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw"))

  private def q114(s: SparkSession, d: String): DataFrame =
    urlDedupGroups(Tables.documents(s, d)
      .select(col("doc_id"), messyUrl(col("doc_id")).as("url")))

  private val o114 =
    s"""WITH u AS (
       |  SELECT doc_id,
       |         (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
       |         (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
       |         (CASE WHEN doc_id % 5 = 0
       |               THEN upper('site' || CAST((doc_id % 101) % 13 AS VARCHAR) || '.' ||
       |                    (['com', 'org', 'net', 'io', 'edu'])[CAST((doc_id % 101) % 5 AS INTEGER) + 1])
       |               ELSE 'site' || CAST((doc_id % 101) % 13 AS VARCHAR) || '.' ||
       |                    (['com', 'org', 'net', 'io', 'edu'])[CAST((doc_id % 101) % 5 AS INTEGER) + 1] END) ||
       |         (CASE WHEN doc_id % 13 = 0
       |               THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
       |               ELSE '' END) ||
       |         (CASE WHEN doc_id % 17 = 0
       |               THEN '/p%' || (CASE WHEN doc_id % 2 = 0 THEN '2f' ELSE '2F' END) ||
       |                    'x/' || CAST(doc_id % 101 AS VARCHAR)
       |               ELSE '/p/' || CAST(doc_id % 101 AS VARCHAR) END) ||
       |         (CASE WHEN doc_id % 8 = 0
       |               THEN '?id=' || CAST(doc_id % 101 AS VARCHAR) || '&utm_source=s' || CAST(doc_id % 7 AS VARCHAR)
       |               WHEN doc_id % 8 = 1 THEN '?utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR)
       |               WHEN doc_id % 8 = 2 THEN '?id=' || CAST(doc_id % 101 AS VARCHAR)
       |               WHEN doc_id % 8 = 4
       |               THEN '?utm_campaign=c' || CAST(doc_id % 7 AS VARCHAR) || '&id=' || CAST(doc_id % 101 AS VARCHAR)
       |               WHEN doc_id % 8 = 5
       |               THEN '?id=' || CAST(doc_id % 101 AS VARCHAR) || '&utm_source=s' || CAST(doc_id % 7 AS VARCHAR) || '&ref=r' || CAST(doc_id % 3 AS VARCHAR)
       |               WHEN doc_id % 8 = 6 THEN '?id=' || CAST(doc_id % 101 AS VARCHAR)
       |               WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
       |         (CASE WHEN doc_id % 11 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END)
       |           AS url
       |  FROM documents),
       |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS u1 FROM u),
       |nt AS (SELECT doc_id, url,
       |              regexp_replace(u1, '[?&](utm_[a-z]+|ref|fbclid)=[^&#]*', '', 'g') AS u2
       |       FROM nf),
       |fs AS (SELECT doc_id, url,
       |              regexp_replace(u2, '^([^?&]*)&', '\\1?') AS u3
       |       FROM nt),
       |hp AS (SELECT doc_id, url,
       |              lower(regexp_extract(u3, '(?i)^https?://[^/?#]+', 0)) AS head,
       |              regexp_replace(u3, '(?i)^https?://[^/?#]+', '') AS rest
       |       FROM fs),
       |nh AS (SELECT doc_id, url,
       |              regexp_replace(regexp_replace(regexp_replace(head,
       |                '^http://', 'https://'), '^(https://)www\\.', '\\1'),
       |                ':(80|443)$$', '') AS head2,
       |              regexp_replace(rest, '/$$', '') AS rest2
       |       FROM hp),
       |pc AS (SELECT doc_id, url, head2,
       |              CASE WHEN len(string_split(rest2, '%')) = 1 THEN rest2
       |                   ELSE string_split(rest2, '%')[1] || '%' ||
       |                        array_to_string(list_transform(string_split(rest2, '%')[2:],
       |                          x -> CASE WHEN regexp_matches(x[1:2], '^[0-9a-fA-F]{2}$$')
       |                                    THEN upper(x[1:2]) || x[3:] ELSE x END), '%')
       |              END AS rest3
       |       FROM nh),
       |cn AS (SELECT doc_id, url, head2 || rest3 AS canon_url FROM pc)
       |SELECT canon_url, min(doc_id) AS keep_id,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT url) AS BIGINT) AS n_raw
       |FROM cn GROUP BY canon_url""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("q100_domain_profile",
      "domain blocklist gate + per-domain dup/quality curation profile",
      q100, Some(o100)),
    GraftQuery("q114_url_canon",
      "URL canonicalization + URL-level exact dedup groups",
      q114, Some(o114)))
}
