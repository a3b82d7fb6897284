"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation benchmark set.

Beyond-reference capability (BASELINE.json north star): the standard
pretraining-pipeline step that keeps eval prompts/answers out of the
training corpus (GPT-3 §C / PaLM / Llama style: exact n-gram collision
against the benchmark, n chosen large enough — typically 8-13 words —
that a hit means real contamination, not shared phrasing).

Two forms, chosen by benchmark size:

- :func:`contamination` — the scale path. Benchmark n-grams become a
  DataFrame that is **broadcast**; each doc's distinct n-grams
  (Arrow-kernel shingles, see ``dedup.shingle_arrays``) semi-join against
  it map-side, so only HIT n-grams enter the per-doc count shuffle. At
  100 TB the corpus side stays partitioned; the benchmark side is
  eval-suite-sized (thousands of prompts → at most a few million
  n-grams) and ships once per executor.
- :func:`contamination_expr` — the zero-join path for small benchmark
  sets (≤ a few thousand n-grams): the set rides the plan as an array
  literal and the per-doc hit count is one ``array_intersect`` in an
  existing projection — no extra scan, no join, no shuffle. This is how
  the flagship ``corpus_filter`` pipeline embeds decontamination without
  giving up its one-scan shape.

Tokenization matches ``text.tokens`` exactly (lowercase, trim, split on
Java ``\\s`` runs) in both the Spark expressions and the driver-side
helper, so flags are engine-reproducible.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_loader_spark.operators.dedup import shingle_table
from time_series_loader_spark.operators.text import tokens

# Java \s (what F.split uses), NOT python \s (which adds unicode spaces)
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _lit_str_array(values: Sequence[str]):
    """Array-of-strings literal built in ONE py4j round-trip (r15, guide
    §1): per-element ``F.lit`` loops cost one driver↔JVM socket exchange
    each — a 2347-gram benchmark measured 2.5 s of corpus_filter's BUILD
    phase in literal construction alone (and PySpark classic's
    ``lit(list)`` loops internally, so it is no cheaper). One string
    literal + ``split`` is a single call, and ConstantFolding collapses
    it to exactly the array Literal the old form folded to, so the
    executed expression — and every value — is unchanged. ``\\n`` is
    collision-free as the separator: callers pass whitespace-tokenized
    words or space-joined n-grams, and ``text.tokens`` splits on ``\\s``
    runs, so no token can contain a newline (the ``lm_lit`` str_to_map
    precedent in q_corpus_filter). An entry containing ``\\n`` can never
    equal a token or a space-joined n-gram, so it is dropped: it could
    match nothing."""
    kept = [v for v in values if "\n" not in v]
    if not kept:
        return F.array().cast("array<string>")
    return F.split(F.lit("\n".join(kept)), "\n", -1)


def ngram_set(texts: Iterable[str | None], n: int = 8) -> list[str]:
    """Driver-side distinct word n-grams of a small text collection,
    token-for-token identical to the Spark shingle expressions — for
    building literal benchmark sets from an eval suite."""
    out: set[str] = set()
    for s in texts:
        if not s:
            continue
        t = _WS.split(s.strip().lower())
        out.update(" ".join(t[i : i + n]) for i in range(len(t) - n + 1))
    return sorted(out)


def benchmark_ngrams(
    bench_df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Distinct n-grams of the benchmark set as a 1-column ``ngram`` frame."""
    return (
        shingle_table(bench_df, text_col, id_col, n)
        .select(F.col("shingle").alias("ngram"))
        .distinct()
    )


def contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bench_df: DataFrame,
    bench_text_col: str = "text",
    bench_id_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Per-doc contamination counts against a benchmark DataFrame.

    Returns the input plus ``n_contam`` = number of the doc's DISTINCT
    n-grams that appear anywhere in the benchmark set (0 = clean).
    Broadcast semi-join shape: non-hit n-grams die map-side; the count
    shuffle carries only (id, hit) rows.
    """
    bng = benchmark_ngrams(bench_df, bench_text_col, bench_id_col or id_col, n)
    sh = shingle_table(df, text_col, id_col, n)
    hits = (
        sh.join(F.broadcast(bng), sh["shingle"] == bng["ngram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    return df.join(hits, id_col, "left").withColumn(
        "n_contam", F.coalesce(F.col("n_contam"), F.lit(0)).cast("long")
    )


def contamination_expr(
    toks: Column, benchmark: Sequence[str], n: int = 8
) -> Column:
    """Hit count as a pure Column over a pre-tokenized array — the
    zero-join form for literal benchmark sets. ``toks`` MUST be a
    materialized ``tokens(text)`` column (see text._quality_exprs on why
    pre-tokenizing matters).

    Shingles are built with ``transform(sequence, i -> array_join(
    slice(toks, i, n)))`` rather than ``dedup._shingles_of``'s zip_with
    chain: over a materialized ATTRIBUTE the lambda only slices (no
    re-evaluation of the tokenizer, which is what makes the inline form
    quadratic), and it measured 2× faster than the n-1 chained zip_with
    passes at n=8 (0.92 s vs 1.93 s over 5k docs).
    """
    if not benchmark:
        return F.lit(0).cast("long")
    bench_arr = _lit_str_array(sorted(set(benchmark)))  # one py4j call — see helper
    m = F.size(toks) - (n - 1)
    shingles = F.when(
        m >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.size(F.array_intersect(shingles, bench_arr)).cast("long")


def contamination_expr_text(
    text: Column | str, benchmark: Sequence[str], n: int = 8
) -> Column:
    """Convenience wrapper tokenizing inline (single-use projections)."""
    return contamination_expr(tokens(text), benchmark, n)


def strip_count_expr(
    toks: Column,
    benchmark: Sequence[str],
    n: int = 8,
    margin: int = 0,
    max_ngrams: int | None = None,
) -> Column:
    """How many token positions :func:`strip_contamination` would remove
    — as a pure Column over a pre-tokenized array (the zero-join literal
    form, the `contamination_expr` counterpart for the SURGICAL policy).
    Position arithmetic is identical to :func:`contaminated_positions`:
    distinct 0-based positions covered by any benchmark-colliding window
    ± ``margin`` (left-clamped at 0; the right edge cannot overflow —
    the last window ends at the last token, so only ``margin`` > 0 needs
    the least() clamp applied here for exact parity with the join form's
    count).

    CSE discipline: the O(m·n) gram array and the hit intersect are
    let-bound via single-element transform() wrappers (Catalyst does no
    CSE inside HOF arguments — the known O(m²) trap), so each evaluates
    once per row; the per-window work is an array index plus a contains
    against the (usually tiny) hit set.

    This is the zero-join LITERAL form: every benchmark n-gram rides
    the plan as a Literal, so it raises past ``max_ngrams`` (default:
    the module's ``EXPR_FORM_MAX_NGRAMS``; ADVICE r12) — larger suites
    take :func:`strip_counts` (the dispatcher) or
    :func:`contaminated_positions` (broadcast-join form) instead of
    silently walking into the codegen-bloat trap documented at the
    constant's definition. A dispatcher that already consulted its own
    crossover passes it through here so an explicit caller opt-in is
    honored (r13 review finding)."""
    if max_ngrams is None:
        max_ngrams = EXPR_FORM_MAX_NGRAMS
    if len(benchmark) > max_ngrams:
        raise ValueError(
            f"strip_count_expr embeds {len(benchmark)} benchmark n-grams "
            f"as plan literals (> {max_ngrams}); use strip_counts() — it "
            f"dispatches to the broadcast-join form (contaminated_positions)"
        )
    if not benchmark:
        return F.lit(0).cast("long")
    bench_arr = _lit_str_array(sorted(set(benchmark)))  # one py4j call — see helper
    m = F.size(toks) - (n - 1)
    grams = F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    last_pos = F.size(toks) - 1  # right clamp for margin widening

    def with_hits(garr, harr):
        covered = F.array_distinct(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(garr), F.lit(1))),
                    lambda i: F.when(
                        F.array_contains(harr, F.element_at(garr, i)),
                        F.sequence(
                            F.greatest(i - 1 - margin, F.lit(0)),
                            F.least(i - 1 + (n - 1) + margin, last_pos),
                        ),
                    ).otherwise(F.array().cast("array<int>")),
                )
            )
        )
        return F.when(F.size(garr) >= 1, F.size(covered)).otherwise(F.lit(0))

    return F.element_at(
        F.transform(
            F.array(grams),
            lambda garr: F.element_at(
                F.transform(
                    F.array(F.array_intersect(F.array_distinct(garr), bench_arr)),
                    lambda harr: with_hits(garr, harr),
                ),
                1,
            ),
        ),
        1,
    ).cast("long")


# Anchor-prefilter literal/join crossover: the distinct FIRST tokens of
# the benchmark grams ride the plan as an array literal
# (contaminated_positions) while they fit; past this many entries the
# literal bloats codegen like any oversized literal (see
# EXPR_FORM_MAX_NGRAMS below), so the anchors become a broadcast-joined
# table instead (`_positions_anchor_join` — r13; the r12 code SKIPPED
# the prefilter here, handing the biggest suites the slowest plan).
_ANCHOR_LITERAL_MAX = 5000

# Crossover between the literal-array form and the broadcast-join form.
# The expr form embeds every benchmark n-gram as a Literal in each task's
# codegen: past a few thousand entries, Catalyst analysis time, the
# serialized plan shipped with every task, and the O(|bench|) per-doc
# sorted-array intersect all grow linearly, and Janino falls back to
# interpreted mode on oversized methods. 5000 n-grams ≈ a few hundred KB
# of literals — comfortably under those cliffs; real eval suites
# (thousands of prompts → up to millions of 8-grams) take the broadcast
# path.
EXPR_FORM_MAX_NGRAMS = 5000


def contamination_from_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark: Sequence[str],
    n: int = 8,
    count_col: str = "n_contam",
) -> DataFrame:
    """Broadcast-join contamination count against a driver-side n-gram
    list (the :func:`contamination` shape, but for callers that already
    hold the benchmark as n-grams rather than as a DataFrame of texts).
    The benchmark ships once per executor as a broadcast; non-hit
    n-grams die map-side, so the count shuffle carries only (id, hit)
    rows and the corpus side never reshuffles."""
    spark = df.sparkSession
    bng = spark.createDataFrame(
        [(g,) for g in sorted(set(benchmark))], "ngram string"
    )
    sh = shingle_table(df, text_col, id_col, n)
    hits = (
        sh.join(F.broadcast(bng), sh["shingle"] == bng["ngram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias(count_col))
    )
    return df.join(hits, id_col, "left").withColumn(
        count_col, F.coalesce(F.col(count_col), F.lit(0)).cast("long")
    )


def decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark: Sequence[str],
    n: int = 8,
    count_col: str = "n_contam",
    toks_col: str | None = None,
    max_expr_ngrams: int | None = None,
) -> DataFrame:
    """Form dispatcher: adds ``count_col`` (long) = how many of the doc's
    distinct word n-grams appear in ``benchmark``.

    Picks the zero-join literal-array expression
    (:func:`contamination_expr`) while the benchmark fits
    ``max_expr_ngrams``, else the broadcast semi-join
    (:func:`contamination_from_ngrams`). Both forms are equality-tested
    at the crossover (tests/test_decontam.py); nothing but plan shape
    changes at the boundary.

    ``toks_col``: name of a pre-materialized ``tokens(text)`` array
    column, if the caller already tokenized (expr form only — the
    broadcast form's Arrow kernel tokenizes from the raw text).
    ``max_expr_ngrams=None`` (default) reads ``EXPR_FORM_MAX_NGRAMS`` at
    call time, so tests can force either form module-wide.
    """
    if max_expr_ngrams is None:
        max_expr_ngrams = EXPR_FORM_MAX_NGRAMS
    if len(benchmark) <= max_expr_ngrams:
        toks = F.col(toks_col) if toks_col else tokens(text_col)
        return df.withColumn(
            count_col, contamination_expr(toks, benchmark, n)
        )
    return contamination_from_ngrams(
        df, text_col, id_col, benchmark, n, count_col
    )


def _hit_positions(hits: DataFrame, id_col: str, n: int, margin: int) -> DataFrame:
    """Shared tail of both prefilter forms: (id, start, _last) hit
    windows → distinct covered positions, each window widened by
    ``margin`` and clamped to the document on BOTH edges (margin can
    overflow either way; strip_count_expr clamps identically so the
    forms COUNT alike)."""
    return hits.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.greatest(F.col("start") - margin, F.lit(0)),
                F.least(F.col("start") + (n - 1) + margin, F.col("_last")),
            )
        ).alias("pos"),
    ).distinct()


def _positions_anchor_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bng: DataFrame,
    n: int,
    margin: int,
    toks_col: str | None = None,
) -> DataFrame:
    """Join-form anchor prefilter (r13, VERDICT r12 directive #3): the
    r12 literal form silently DROPPED the prefilter past
    ``_ANCHOR_LITERAL_MAX`` distinct first tokens — exactly the big
    suites that need it most. Here the anchor set (distinct FIRST
    tokens of the benchmark grams — exact, not heuristic: a window can
    only hit if its first token anchors some gram) is a broadcast
    table:

    1. one narrow posexplode of (id, pos, token) — corpus-token-sized
       rows but three thin columns, no gram strings;
    2. broadcast LEFT SEMI against the anchors → surviving positions
       (contamination-anchored-sized on realistic token overlap);
    3. per-doc anchor-position arrays (an id-keyed shuffle of hit
       positions only) joined back to the tokenized frame;
    4. gram strings built ONLY at anchor positions, then the usual
       broadcast hit join against the full benchmark.

    vs the no-prefilter scan: trades building n-token gram strings at
    every position (n× token bytes as strings) for one narrow explode
    plus an id-keyed join of anchor positions. Wins whenever anchors
    cover well under 100% of positions; see tools/strip_probe.py
    --natural for the stopword-anchored honest measurement.

    ``toks_col`` names a pre-materialized token array (r14: the
    corpus_filter one-scan discipline — never re-run the regex split
    when the caller's projection already carries the array)."""
    tsrc = F.col(toks_col) if toks_col else tokens(text_col)
    toked = df.select(F.col(id_col), tsrc.alias("_t"))
    m = F.size("_t") - (n - 1)
    anchors = bng.select(
        F.substring_index("ngram", " ", 1).alias("_anchor")
    ).distinct()
    pos_tok = toked.select(
        F.col(id_col),
        m.alias("_m"),
        F.posexplode("_t").alias("_p", "_tok"),
    ).where(F.col("_p") < F.col("_m"))
    apos = (
        pos_tok.join(
            F.broadcast(anchors),
            pos_tok["_tok"] == anchors["_anchor"],
            "left_semi",
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_p")).alias("_apos"))
    )
    cand = toked.join(apos, id_col, "inner")  # anchor-free docs: no windows
    win = F.transform(
        F.col("_apos"),
        lambda p: F.struct(
            p.cast("int").alias("start"),
            F.concat_ws(" ", F.slice(F.col("_t"), p + 1, n)).alias("gram"),
        ),
    )
    wins = cand.select(
        F.col(id_col),
        F.explode(win).alias("w"),
        (F.size("_t") - 1).alias("_last"),
    ).select(id_col, "w.start", "w.gram", "_last")
    hits = wins.join(
        F.broadcast(bng), wins["gram"] == bng["ngram"], "inner"
    ).select(id_col, "start", "_last")
    return _hit_positions(hits, id_col, n, margin)


def contaminated_positions(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark: Sequence[str] | DataFrame,
    n: int = 8,
    margin: int = 0,
    max_anchor_literals: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """(``id_col``, pos): the 0-based whitespace-token positions covered
    by ANY word n-gram present in ``benchmark``, each hit window widened
    by ``margin`` tokens on both sides, clamped to the document on both
    edges (so the position COUNT agrees exactly with
    :func:`strip_count_expr`, the zero-join literal form).
    Broadcast-join form, the scale path: positional windows are
    corpus-sized but non-hit windows die map-side against the broadcast
    benchmark, so the position explode and distinct run only on hits —
    contamination-sized, not corpus-sized.

    ``benchmark`` is a driver-side n-gram list OR a 1-column ``ngram``
    DataFrame (r13 — real eval suites are themselves tables; see
    :func:`benchmark_ngrams`). The ANCHOR prefilter (r12 probe finding:
    building every window's n-token gram string is the corpus-sized
    cost term — the 45 s baseline in tools/strip_probe.py) now has two
    forms and is NEVER skipped: distinct first tokens ride the plan as
    an array literal while they fit ``max_anchor_literals`` (default
    ``_ANCHOR_LITERAL_MAX``), else — and always for a DataFrame
    benchmark — they become a broadcast-joined anchor table
    (`_positions_anchor_join`)."""
    if max_anchor_literals is None:
        max_anchor_literals = _ANCHOR_LITERAL_MAX
    spark = df.sparkSession
    if isinstance(benchmark, DataFrame):
        return _positions_anchor_join(
            df, text_col, id_col, benchmark, n, margin, toks_col
        )
    firsts = sorted({g.split(" ", 1)[0] for g in benchmark})
    if len(firsts) > max_anchor_literals:
        bng = spark.createDataFrame(
            [(g,) for g in sorted(set(benchmark))], "ngram string"
        )
        return _positions_anchor_join(
            df, text_col, id_col, bng, n, margin, toks_col
        )
    bng = spark.createDataFrame(
        [(g,) for g in sorted(set(benchmark))], "ngram string"
    )
    tsrc = F.col(toks_col) if toks_col else tokens(text_col)
    toked = df.select(F.col(id_col), tsrc.alias("_t"))
    m = F.size("_t") - (n - 1)
    if firsts:
        first_arr = _lit_str_array(firsts)  # one py4j call — see helper
        idxs = F.filter(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.array_contains(first_arr, F.element_at(F.col("_t"), i)),
        )
    else:  # empty benchmark: no anchors, no windows
        idxs = F.array().cast("array<int>")
    win = F.when(
        m >= 1,
        F.transform(
            idxs,
            lambda i: F.struct(
                (i - 1).cast("int").alias("start"),
                F.concat_ws(" ", F.slice(F.col("_t"), i, n)).alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
    wins = toked.select(
        F.col(id_col),
        F.explode(win).alias("w"),
        (F.size("_t") - 1).alias("_last"),
    ).select(id_col, "w.start", "w.gram", "_last")
    hits = wins.join(
        F.broadcast(bng), wins["gram"] == bng["ngram"], "inner"
    ).select(id_col, "start", "_last")
    return _hit_positions(hits, id_col, n, margin)


def strip_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark: Sequence[str] | DataFrame,
    n: int = 8,
    margin: int = 0,
    count_col: str = "n_strip",
    max_expr_ngrams: int | None = None,
    toks_col: str | None = None,
) -> DataFrame:
    """Form dispatcher for the SURGICAL count (ADVICE r12): adds
    ``count_col`` (long) = how many token positions
    :func:`strip_contamination` would remove. Zero-join literal
    expression (:func:`strip_count_expr`) while the benchmark fits
    ``max_expr_ngrams``, else the broadcast-join position count
    (:func:`contaminated_positions` → per-doc count) — the
    `decontaminate` dispatch pattern applied to the surgical policy.
    Both forms are equality-tested at the crossover
    (tests/test_decontam.py). ``toks_col`` names a pre-materialized
    ``tokens(text)`` array, honored by BOTH forms (r14 — the
    corpus_filter one-scan discipline: never re-tokenize inside a
    projection that already carries the array)."""
    if max_expr_ngrams is None:
        max_expr_ngrams = EXPR_FORM_MAX_NGRAMS
    if isinstance(benchmark, DataFrame):
        pass  # an ngram frame always takes the join form below (r13)
    elif len(benchmark) <= max_expr_ngrams:
        toks = F.col(toks_col) if toks_col else tokens(text_col)
        return df.withColumn(
            count_col,
            strip_count_expr(
                toks, benchmark, n, margin, max_ngrams=max_expr_ngrams
            ),
        )
    pos = contaminated_positions(
        df, text_col, id_col, benchmark, n, margin, toks_col=toks_col
    )
    counts = pos.groupBy(id_col).agg(F.count(F.lit(1)).alias(count_col))
    return df.join(counts, id_col, "left").withColumn(
        count_col, F.coalesce(F.col(count_col), F.lit(0)).cast("long")
    )


def strip_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    benchmark: Sequence[str] | DataFrame | None = None,
    n: int = 8,
    margin: int = 0,
    bench_df: DataFrame | None = None,
    bench_text_col: str = "text",
    bench_id_col: str | None = None,
) -> DataFrame:
    """SURGICAL decontamination: rewrite each document with the
    contaminated spans removed instead of dropping the whole document —
    the Dolma/RefinedWeb-style alternative to :func:`decontaminate`'s
    doc-level drop, for corpora where benchmark n-grams are embedded in
    otherwise-good documents (quotations, shared boilerplate around an
    eval prompt) and whole-doc removal wastes data.

    Every token position covered by a benchmark-colliding n-gram window
    (± ``margin`` tokens) is removed; overlapping hits union naturally
    (removal is by position). Untouched documents pass through
    byte-identical; touched documents are rebuilt from the surviving
    original-case tokens joined by single spaces; fully-contaminated
    documents come back as empty strings (filter on
    ``length(text) > 0`` to drop them). Output: (``id_col``,
    ``text_col``) — same reattach contract as
    `spans.remove_repeated_spans`.

    ``benchmark`` is a driver-side n-gram list or a 1-column ``ngram``
    DataFrame; alternatively pass ``bench_df`` — a DataFrame of
    benchmark TEXTS (r13, parity with :func:`contamination`'s
    ``bench_df``) shingled via :func:`benchmark_ngrams` — for real eval
    suites, which are themselves tables. Exactly one of the two.

    Detection tokenizes lowercase (`text.tokens`, matching every other
    decontamination form); the rewrite splits the RAW text — positions
    align because lowercasing never moves whitespace. WHITESPACE
    CONTRACT (r13 test-pinned, VERDICT r12 #6): untouched documents
    pass through byte-identical, but a TOUCHED document is rebuilt from
    its surviving tokens joined by single spaces — runs of
    spaces/tabs/newlines inside it normalize to one space (the Dolma
    rewrite convention, shared with `spans.remove_repeated_spans`).
    Callers needing byte-exact inter-token whitespace on touched docs
    must keep offsets themselves; token-position semantics (which
    positions survive) are unaffected.

    Scale shape: one corpus-sized projection builds positional windows;
    the broadcast benchmark kills non-hits map-side, so everything
    after the join (position explode, distinct, the rebuild's
    posexplode/anti-join over TOUCHED docs only) is sized by the
    contamination, not the corpus. No corpus-sized shuffle beyond the
    per-doc rebuild of touched documents.
    """
    from time_series_loader_spark.operators.spans import (
        rebuild_without_positions,
    )

    if (benchmark is None) == (bench_df is None):
        raise ValueError(
            "pass exactly one of benchmark (n-gram list / ngram frame) "
            "or bench_df (benchmark-text frame)"
        )
    if bench_df is not None:
        benchmark = benchmark_ngrams(
            bench_df, bench_text_col, bench_id_col or id_col, n
        )
    bad_pos = contaminated_positions(df, text_col, id_col, benchmark, n, margin)
    return rebuild_without_positions(
        df.select(id_col, text_col), text_col, id_col, bad_pos
    )
