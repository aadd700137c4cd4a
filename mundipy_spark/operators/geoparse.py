"""Geoparsing: extract geo mentions from page text — fully JVM-side.

Two extractors, both pure column expressions (regexp + arithmetic; zero
Python in the path that touches every one of 10^12 pages):

1. `geo:` integer-token mentions (the synth pages' encoding);
2. decimal "lat, lon" coordinate pairs (e.g. "34.05, -118.24") with
   range validation — the generic web-text case;
3. gazetteer place names via a broadcast join on extracted candidate
   tokens (places table is small -> broadcast; probe side only gains a
   lower-cased token column).

The text column is passed through UNTOUCHED — the byte-identical
per-url invariant is asserted in tests and the pipeline's lineage
metrics (count + text fingerprint) make any mutation visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GEO_TOKEN_RE = r"geo:(-?\d+),(-?\d+)"
# digit boundaries on both sides: without the leading (?:^|[^0-9.]) the
# engine starts matching INSIDE longer numbers ("order #1234.56, 78.9"
# would geocode to (34.56, 78.9)); the trailing (?=[^0-9]|$) stops a
# coordinate from being a truncated prefix of a longer decimal. '.' is
# allowed AFTER (sentence-final period) but not BEFORE (float tails).
DECIMAL_PAIR_RE = (
    r"(?:^|[^0-9.])(-?\d{1,2}\.\d{1,6})\s*,\s*(-?\d{1,3}\.\d{1,6})(?=[^0-9]|$)"
)


def parse_geo_tokens(
    pages: DataFrame, text_col: str = "text", matched_only: bool = False
) -> DataFrame:
    """Adds lat/lon (double, null when absent) from `geo:<latc>,<lonc>`
    integer mentions.

    ONE regexp pass over the text (the expensive part at 10^12 rows);
    the cheap comma split runs on the tiny match. Measured dead ends
    (30M pages, local[32]): UTF8String.indexOf via `instr` costs 4.1s
    where this whole regexp costs 2.5s (Java regex takes the memchr-ish
    fast path on the literal 'geo:' prefix; indexOf is a naive byte
    scan), so instr-prefilter/instr-substring variants LOSE 2.5-9x.

    matched_only=True drops un-geocoded pages INSIDE the operator (the
    inner-join geocode path). Callers must use this instead of
    `.filter(lat.isNotNull)`: the external filter's predicate inlines
    the lat definition — `CASE WHEN size(split(regexp..)) THEN
    isnotnull(element_at(split(regexp..)))` carries TWO regexp
    evaluations — and Catalyst pushes that composite below every
    upstream projection (even into upstream join conditions), so the
    parse ran 3x per row. Filtering on `size(_gm)=2` BEFORE the lat/lon
    projection pushes a single-regexp predicate instead, and lat/lon
    then derive null-free from the kept rows: 8.3s -> 5.2s for the
    parse stage at 30M pages, local[32]."""
    m = F.regexp_extract(F.col(text_col), r"geo:(-?\d+,-?\d+)", 1)
    parts = F.split(m, ",")
    if matched_only:
        d = pages.withColumn("_gm", parts).filter(F.size("_gm") == 2)
        return (
            d.withColumn("lat", F.element_at("_gm", 1).cast("double") / 100.0)
            .withColumn("lon", F.element_at("_gm", 2).cast("double") / 100.0)
            .drop("_gm")
        )
    return pages.withColumn("_gm", parts).withColumn(
        "lat",
        F.when(F.size(F.col("_gm")) == 2, F.element_at("_gm", 1).cast("double") / 100.0),
    ).withColumn(
        "lon",
        F.when(F.size(F.col("_gm")) == 2, F.element_at("_gm", 2).cast("double") / 100.0),
    ).drop("_gm")


def parse_decimal_pairs(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds lat/lon from the first PLAUSIBLE decimal coordinate pair —
    all matches are extracted and the first one passing range
    validation (|lat|<=90, |lon|<=180) wins, so an early bogus match
    ("99.99, 199.9 ... 34.05, -118.24") no longer masks a real pair
    later in the page. Still pure column expressions: two aligned
    regexp_extract_all passes (group 1 / group 2), zip, filter, head."""
    lats = F.regexp_extract_all(F.col(text_col), F.lit(DECIMAL_PAIR_RE), 1)
    lons = F.regexp_extract_all(F.col(text_col), F.lit(DECIMAL_PAIR_RE), 2)
    pairs = F.zip_with(
        lats,
        lons,
        lambda a, b: F.struct(
            a.cast("double").alias("lat"), b.cast("double").alias("lon")
        ),
    )
    valid = F.filter(
        pairs,
        lambda p: (F.abs(p["lat"]) <= 90.0) & (F.abs(p["lon"]) <= 180.0),
    )
    first = F.try_element_at(valid, F.lit(1))
    return pages.withColumn("lat", first["lat"]).withColumn(
        "lon", first["lon"]
    )


def _norm_gazetteer(gazetteer: DataFrame) -> DataFrame:
    """Gazetteer names through the SAME tokenizer as page text:
    lowercase, split on [^a-z0-9]+, empties dropped. The match key is
    the space-joined token sequence, so page text "New-York" (or
    "new  york") matches gazetteer "New York" and vice versa."""
    gtoks = F.filter(
        F.split(F.lower(F.col("place")), r"[^a-z0-9]+"),
        lambda t: t != "",
    )
    return gazetteer.withColumn("_key", F.array_join(gtoks, " ")).withColumn(
        "_L", F.size(gtoks)
    )


def parse_gazetteer(
    pages: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    prefilter: bool = True,
    prefilter_cap: int = 5000,
    max_ngram: int = 8,
) -> DataFrame:
    """Tag pages with the first gazetteer place they mention.

    gazetteer: DataFrame(place string, lat double, lon double) — small,
    broadcast. Place names may be MULTI-WORD ("new york"): both sides
    normalize through the same tokenizer (lowercase, [^a-z0-9]+
    separators), and the page side generates L-gram token windows for
    exactly the distinct token counts L present in the gazetteer — one
    pass over the token array per distinct L, flattened into a single
    explode, so the pages table is still scanned once and never
    shuffled (broadcast hash join on the space-joined gram key). A
    single-token gazetteer plans the identical explode+join as before.

    At web scale the vast majority of pages mention NO place, so a
    page-level regexp prefilter compiled from the gazetteer drops them
    BEFORE the gram explode; each place's inter-token gaps compile to
    `[^a-z0-9]+`, mirroring the tokenizer exactly, so the prefilter can
    never drop a page the join would keep.

    prefilter_cap: above this many places the alternation pattern stops
    paying for itself (regex state blowup) — fall back to explode-only
    (exercised at 200k places, gazetteer_xl in BENCH_r05.json). On a
    corpus where most pages DO mention a gazetteer term the prefilter
    is a pure extra regex pass — pass prefilter=False there; on web
    text with sparse mentions it is a ~4.5x win (measured at 5M pages,
    1% mention rate — BENCH_r03.json).

    max_ngram bounds the gram generation (one token-array pass per
    distinct L): a place with more tokens raises loudly rather than
    silently never matching.
    """
    g_norm = _norm_gazetteer(gazetteer)
    # tiny driver-side aggregate: place count (cap decision), distinct
    # token counts (gram lengths), min key length (gram floor). The
    # place LIST is collected only when the prefilter will compile it
    # (<= cap) — a GeoNames-scale gazetteer must never round-trip the
    # driver just to learn "too big for the alternation" (r5).
    stats = g_norm.agg(
        F.count_distinct(F.col("_key")).alias("n"),
        F.min(F.length("_key")).alias("minkey"),
        F.array_sort(F.collect_set("_L")).alias("ls"),
    ).first()
    n_places = stats["n"]
    lengths = [int(l) for l in (stats["ls"] or []) if l and l > 0]
    if lengths and lengths[-1] > max_ngram:
        raise ValueError(
            f"parse_gazetteer: place names up to {lengths[-1]} tokens "
            f"exceed max_ngram={max_ngram}; raise max_ngram (each "
            "distinct token count adds one gram pass per page)"
        )
    toks = pages
    if prefilter and 0 < n_places <= prefilter_cap:
        import re as _re

        keys = [r[0] for r in g_norm.select("_key").distinct().collect()]
        alt = "|".join(
            "[^a-z0-9]+".join(_re.escape(t) for t in k.split(" "))
            for k in sorted(keys)
        )
        # custom boundaries (NOT \b: '_' is a regex word char but a
        # tokenizer separator, so \b would wrongly drop "place_x")
        pat = f"(?i)(^|[^a-z0-9])({alt})([^a-z0-9]|$)"
        toks = toks.filter(F.col(text_col).rlike(pat))
    # gram-length floor = shortest normalized place: grams shorter than
    # every key can never join — prunes the explode with ZERO effect on
    # results (a fixed floor made short entries like 'LA' unmatchable)
    minkey = int(stats["minkey"] or 1)
    raw_arr = F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
    if (lengths or [1]) == [1]:
        # single-token gazetteer: straight explode of the split —
        # the identical plan the pre-multiword operator produced
        # (empties die at the length floor below)
        toks = toks.withColumn("_tok", F.explode(raw_arr))
    else:
        # MATERIALIZE the filtered token array once as a column:
        # referencing the split+filter expression inside the gram
        # windows re-evaluates it per window index (no CSE through
        # lambda scopes — measured 36x at 200k places / 1M pages),
        # turning O(tokens*L) per doc into O(tokens^2). Empties must
        # drop BEFORE gramming ("a--b" would gram to "a  b").
        toks = toks.withColumn(
            "_toks", F.filter(raw_arr, lambda t: t != "")
        )
        arr = F.col("_toks")

        def _grams_of(L: int):
            # L-grams as a progressive zip of SHIFTED slices: 2(L-1)
            # slices + (L-1) elementwise concat passes per doc —
            # measured 6x faster than transform(sequence)+per-window
            # slice, bit-identical output. greatest(..,0) guards docs
            # shorter than L (slice length 0 -> empty array on every
            # branch).
            n = F.size(arr)
            cnt = F.greatest(n - (L - 1), F.lit(0))
            out = F.slice(arr, 1, cnt)
            for off in range(1, L):
                out = F.zip_with(
                    out,
                    F.slice(arr, 1 + off, cnt),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            return out

        gram_arrays = [
            arr if L == 1 else _grams_of(L) for L in lengths
        ]
        grams = (
            gram_arrays[0]
            if len(gram_arrays) == 1
            else F.flatten(F.array(*gram_arrays))
        )
        toks = toks.withColumn("_tok", F.explode(grams)).drop("_toks")
    toks = toks.filter(F.length("_tok") >= max(minkey, 1))
    g = F.broadcast(
        g_norm.drop("_L").withColumnRenamed("_key", "_tok")
    )
    hits = toks.join(g, "_tok", "inner").drop("_tok")
    # first hit per page (deterministic: min by place)
    from pyspark.sql import Window as W

    w = W.partitionBy("url").orderBy("place")
    return hits.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
