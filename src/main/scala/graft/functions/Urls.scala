package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the cheapest dedup stage of a crawl
  * pipeline, run BEFORE any content dedup: two fetches of the same
  * page differ only in URL cosmetics (scheme/host case, an explicit
  * default port, a fragment, tracking parameters, query-key order),
  * and collapsing those on the canonical string removes refetches for
  * the price of one column expression — no shuffle until the
  * keep-first group-by, which keys on a short string instead of
  * document bytes.
  *
  * The canonical form (the standard RFC 3986 §6 safe normalizations
  * plus the universal tracking-param strip):
  *   - percent-encoding normalized (§6.2.2.1-2): unreserved escapes
  *     (`%6F` → `o`) decoded, remaining escapes' hex uppercased
  *     (`%2f` → `%2F`) — two encodings of one URL must collapse;
  *   - scheme and host lowercased (case-insensitive by spec);
  *   - explicit default port stripped (`:80` for http, `:443` for
  *     https);
  *   - fragment stripped (never sent to the server);
  *   - tracking parameters dropped (`utm_*`, `fbclid`, `gclid`);
  *   - remaining query parameters sorted by codepoint (order is
  *     semantically irrelevant to ~all servers; sorting makes the
  *     string canonical);
  *   - empty path normalized to `/`.
  *
  * Pure `org.apache.spark.sql.functions` column expression
  * (regexp/array ops — whole-stage codegen, no UDF), restated
  * verbatim in the DuckDB oracle with the same regexes and the same
  * codepoint sort, so the q266 gate checks the canonical string
  * byte-for-byte.
  */
object Urls {

  /** ONE-pass parse of a URL into
    * `(canon, scheme, host, host_noport, path, query)` — the native
    * [[graft.plans.UrlParts]] expression (registered by
    * GraftExtensions). Semantically identical to the retired regex
    * formulation (`canonicalUrl` ∘ [[hostOf]], now a test-scope
    * witness) but reads the string once instead of a split/transform
    * pass plus five regexp passes; q266/q267 route through this, and
    * the q266 oracle (which restates the REGEX formulation in DuckDB)
    * gates the equivalence byte-for-byte. */
  def parts(u: Column): Column = call_function("url_parts", u)

  /** Lowercased host of a URL (port stripped) — the grouping key for
    * per-site crawl statistics. Pure regexp column expression. */
  def hostOf(u: Column): Column =
    lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?:]*)", 1))

  /** Registrable domain of a (lowercased) host — the aggregation key
    * domain-level curation uses (docs-per-domain caps, reputation
    * scores key on the SITE, not each subdomain): the public suffix
    * plus one label (`www.news.site4.com` → `site4.com`,
    * `www.example.co.uk` → `example.co.uk`), under the FULL embedded
    * Public Suffix List — see [[graft.plans.RegisteredDomain]] for
    * the algorithm, the scale shape and the IPv4/single-label/own-
    * suffix carve-outs. */
  def registeredDomain(host: Column): Column =
    call_function("registered_domain", host)
}
