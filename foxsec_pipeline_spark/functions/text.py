"""Text functions — similarity, normalization, fingerprinting, tokens.

Reference seeds: `StringDistance.java:22-63` (Levenshtein ratio),
`amo/FxaAccountAbuseAlias.java:68-98` (email alias normalization),
`customs/PrivateRelayForward.java` (sha256 of forward address).

Extended for the LLM-training-data pipeline surface (BASELINE.json
north star): tokenization, shingles, document fingerprints, portable
hashes. All built-in expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """Edit distance normalized by the longer string
    (`StringDistance.java:22-63`: distance / max(len)). 0 = equal."""
    return F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))


def normalize_email(email: Column) -> Column:
    """Strip +alias from the local part and lowercase
    (`FxaAccountAbuseAlias.java:68-98`)."""
    return F.lower(F.regexp_replace(email, r"\+[^@]*@", "@"))


def tokens(text: Column, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization -> array<string>."""
    return F.split(F.trim(text), pattern)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles -> array<string>.

    Built from `sequence` + `transform` + `slice` — fully JVM-side.
    Returns empty array for docs shorter than n tokens.
    """
    t = tokens(text)
    return F.when(
        F.size(t) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-collapsed, lowercased text. The batch analog of the
    reference's content hashing (`amo/AddonMultiMatch.java:105`
    file-hash matching)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def md5_bucket(s: Column, prefix_hex_chars: int = 15) -> Column:
    """Portable string -> int64 hash: first `prefix_hex_chars` hex
    chars of md5, parsed base-16. Stable across engines (used by the
    DuckDB oracles), unlike xxhash64/murmur which differ per engine.
    15 hex chars = 60 bits < int64 max."""
    return F.conv(F.substring(F.md5(s), 1, prefix_hex_chars), 16, 10).cast("long")


def parse_syslog_ts(col: Column, year: Column | int | None = None) -> Column:
    """Syslog 'MMM dd HH:mm:ss' timestamp parse with year correction
    (`parser/Parser.java:106-153`): syslog lines carry no year, so the
    reference stamps the current year, then rolls back one year if
    that lands the event in the future (Dec 31 logs read on Jan 1).
    """
    yr = F.lit(year) if isinstance(year, int) else (year if year is not None else F.year(F.current_timestamp()))
    # syslog pads single-digit days with a double space ('Jan  1')
    body = F.regexp_replace(F.trim(col), r"\s+", " ")
    candidate = F.try_to_timestamp(
        F.concat(yr.cast("string"), F.lit(" "), body), F.lit("yyyy MMM d HH:mm:ss")
    )
    rolled = F.try_to_timestamp(
        F.concat((yr - 1).cast("string"), F.lit(" "), body),
        F.lit("yyyy MMM d HH:mm:ss"),
    )
    return F.when(candidate > F.current_timestamp(), rolled).otherwise(candidate)


# universal-hash MinHash parameters: permutation i over GF(P) with
# P = 2^31 - 1. Products stay under 2^62, so the identical integer
# arithmetic runs in Spark SQL and the DuckDB oracle.
MINHASH_P = 2_147_483_647
MINHASH_A = [(2 * i + 1) * 1_000_003 % MINHASH_P for i in range(64)]
MINHASH_B = [(i * i + 7) * 999_983 % MINHASH_P for i in range(64)]


def normalize_email_plus(email: Column) -> Column:
    """Reference-exact +alias strip (`MiscUtil.java:31-50`
    normalizeEmailPlus): the + must not be the FIRST character, the
    @ must follow the +, and at least one character must follow the
    @ — otherwise the input passes through unchanged. No lowercasing
    (`normalize_email` adds that as a documented extension). Every
    TestMiscUtil edge case is asserted in
    tests/test_reference_goldens.py."""
    return F.regexp_replace(
        email, r"^([^+@][^+@]*)\+[^@]*@(.+)$", r"$1@$2"
    )


def normalize_email_plus_dot_strip(email: Column) -> Column:
    """Strip the +alias AND all dots from the local part
    (`MiscUtil.java:61-76` normalizeEmailPlusDotStrip — the
    gmail-style normalization the AMO alias-abuse detector keys on;
    the reference warns it is provider-specific, so it is a separate
    function from `normalize_email`). Dots survive in the domain."""
    plus_stripped = normalize_email_plus(email)
    local = F.regexp_extract(plus_stripped, r"^([^@]*)@", 1)
    domain = F.regexp_extract(plus_stripped, r"@(.*)$", 1)
    normalized = F.concat(F.regexp_replace(local, r"\.", ""), F.lit("@"), domain)
    # degenerate forms (no @, empty local after strip) pass through
    return F.when(
        plus_stripped.rlike("^[^@]*@.+") & (F.regexp_replace(local, r"\.", "") != ""),
        normalized,
    ).otherwise(plus_stripped)


def normalize_url(url: Column) -> Column:
    """Canonicalize a request URL for counting/blocklist matching —
    the normalization the reference applies when it splits
    `requestUrl` into host/path legs (`parser/Normalized.java:48,
    469-478`, consumed as `getUrlRequestPath`/`getUrlRequestHost` by
    `httprequest/HTTPRequest.java:128` and the path/host standard
    filters): lowercase scheme+host, drop a default :80/:443 port,
    drop query string and fragment, collapse duplicate slashes in the
    path, strip the trailing slash. Pure string expressions — stays
    in whole-stage codegen.
    """
    scheme_host = F.regexp_extract(url, r"^([^/]*//[^/?#]*)", 1)
    path = F.regexp_extract(url, r"^[^/]*//[^/?#]*(/[^?#]*)", 1)
    host_norm = F.regexp_replace(F.lower(scheme_host), r":(80|443)$", "")
    path_norm = F.regexp_replace(
        F.regexp_replace(path, r"/{2,}", "/"), r"/$", ""
    )
    return F.concat(host_norm, path_norm)
