"""Gopher-style repetition quality signals for training-data pipelines.

Beyond-reference operators (the reference has no text stack; this
extends ``operators/text.py``'s quality surface with the repetition
family from public data-quality literature — Rae et al. 2021
"Scaling Language Models" Table A1, and the C4/RefinedWeb line-dedup
passes).

Two tiers, chosen by what they cost at 100 TB:

- :func:`with_word_repetition_stats` and
  :func:`with_line_repetition_stats` are MAP-ONLY: pure array
  expressions (``split`` / ``array_distinct`` / ``filter``), zero
  shuffle, whole-stage codegen'd. Use these as the first-pass filter.
- :func:`ngram_repetition_stats` is MAP-ONLY too: per-document
  n-gram counts come from linear folds over one sorted gram array,
  the same folds as :func:`with_gopher_repetition_stats`.

Every metric is expressible identically in ANSI SQL (DuckDB oracle):
splits are on explicit separators / ``\\s+`` runs, and tie-breaks are
total orders (count desc, gram asc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ngrams_from_tokens",
    "words_array",
    "ngrams_array",
    "dup_occurrence_count",
    "with_word_repetition_stats",
    "with_line_repetition_stats",
    "ngram_repetition_stats",
]


def _dup_neighbors(sorted_arr: Column) -> Column:
    """The occurrences of ``sorted_arr`` whose value appears >= 2
    times — ONE definition of the neighbor-duplicate predicate
    (including the 0-based-Spark / 1-based-DuckDB indexed-lambda
    portability contract) shared by the count- and char-weighted
    metrics so they cannot drift."""
    n = F.size(sorted_arr)
    return F.filter(
        sorted_arr,
        lambda x, i: ((i > 0) & (F.get(sorted_arr, i - 1) == x))
        | ((i < n - 1) & (F.get(sorted_arr, i + 1) == x)),
    )


def dup_occurrence_count(sorted_arr: Column) -> Column:
    """Occurrences whose value appears >= 2 times in ``sorted_arr``
    (which MUST be sorted so equal values are adjacent).

    Linear neighbor comparison instead of the naive quadratic
    count-within-array lambda — the difference between O(L log L) and
    O(L^2) per document, which matters for adversarially long
    documents at corpus scale. Engine-portable: the same indexed
    lambda exists in DuckDB (1-based) and Spark (0-based), and any
    total sort groups equal values adjacently, so collation
    differences cannot change the count.
    """
    return F.size(_dup_neighbors(sorted_arr))


def words_array(text: Column | str) -> Column:
    r"""Whitespace-token array (``\S+`` runs; empty array for blank text)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(col), r"\s+")
    # split('') yields [''] — normalize to an empty array
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(toks)


def ngrams_array(text: Column | str, n: int = 2) -> Column:
    """All space-joined word n-grams IN ORDER (duplicates kept — this
    is the counting form; :func:`~.dedup.word_shingles` is the
    distinct set form). Documents shorter than ``n`` words yield an
    empty array (no padding n-gram), so repetition fractions are
    well-defined zeros there.
    """
    return ngrams_from_tokens(words_array(text), n)


def ngrams_from_tokens(toks: Column, n: int = 2) -> Column:
    """:func:`ngrams_array` over an ALREADY-tokenized array column —
    the path for callers that pre-process the token stream (e.g. the
    giant-doc cap), avoiding a re-join + re-split of the text."""
    cnt = F.size(toks)
    m = cnt - F.lit(n - 1)
    # chain of shifted zip_withs: n-1 linear passes instead of one
    # slice-of-the-whole-array per position (O(L*n) interpreted work)
    grams = F.slice(toks, 1, m)
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(cnt < n, F.array().cast("array<string>")).otherwise(grams)


def _free_temp_name(df: DataFrame, base: str) -> str:
    """A temp-column name guaranteed absent from ``df`` — withColumn
    on an existing name silently REPLACES it and the trailing drop
    would then delete caller data."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def with_word_repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-only word-level repetition columns (no shuffle):

    - ``n_words``: whitespace token count;
    - ``n_unique_words``: distinct token count;
    - ``frac_unique_words``: distinct/total (1.0 for empty text — an
      empty document has no repetition signal; filter on ``n_words``
      separately);
    - ``frac_dup_words``: fraction of word OCCURRENCES whose value
      occurs more than once (Gopher's "duplicate word fraction").

    ``frac_dup_words`` counts via :func:`dup_occurrence_count` over
    the sorted token array — O(L log L) per document, no keyed
    aggregation needed.
    """
    toks = words_array(text_col)
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    tmp = _free_temp_name(df, "_rep_sorted")
    df = df.withColumn(tmp, F.array_sort(toks))
    dup_occurrences = dup_occurrence_count(F.col(tmp))
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    return (
        df.withColumn("n_words", n)
        .withColumn("n_unique_words", uniq)
        .withColumn(
            "frac_unique_words",
            F.when(n == 0, F.lit(1.0)).otherwise(uniq.cast("double") / safe_n),
        )
        .withColumn("frac_dup_words", dup_occurrences.cast("double") / safe_n)
        .drop(tmp)
    )


def with_line_repetition_stats(
    df: DataFrame, text_col: str = "text", sep: str = "\n"
) -> DataFrame:
    """Map-only line-level repetition columns (no shuffle):

    - ``n_lines``: count of ``sep``-separated lines;
    - ``frac_dup_lines``: fraction of line occurrences whose exact
      text occurs on another line of the same document;
    - ``frac_bullet_lines``: lines starting with a bullet marker
      (``-``, ``*``, or ``•`` followed by a space);
    - ``frac_ellipsis_lines``: lines ending in ``...`` or ``…``.

    These are the C4/Gopher line heuristics; single-line documents get
    0.0 duplicate fraction by construction.
    """
    import re

    lines = F.split(F.col(text_col), re.escape(sep), -1)
    n = F.size(lines)
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    tmp = _free_temp_name(df, "_rep_sorted")
    df = df.withColumn(tmp, F.array_sort(lines))
    dup = dup_occurrence_count(F.col(tmp))
    bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("- ") | x.startswith("* ") | x.startswith("• "),
        )
    )
    ellipsis = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    )
    return (
        df.withColumn("n_lines", n)
        .withColumn("frac_dup_lines", dup.cast("double") / safe_n)
        .withColumn("frac_bullet_lines", bullet.cast("double") / safe_n)
        .withColumn("frac_ellipsis_lines", ellipsis.cast("double") / safe_n)
        .drop(tmp)
    )


def _capped_tokens(full_toks: Column, max_tokens_per_doc):
    """``(tokens, truncated)``: the token array sliced to
    ``max_tokens_per_doc`` (grams never span the cut; no re-join +
    re-split of the text) and a real-boolean flag for capped rows.
    NULL text -> NULL array -> NULL ``size()``, coalesced so the flag
    never silently drops a row from a ``~truncated`` filter."""
    if max_tokens_per_doc is None:
        return full_toks, F.lit(False)
    if max_tokens_per_doc <= 0:
        raise ValueError("max_tokens_per_doc must be positive")
    return F.slice(full_toks, 1, max_tokens_per_doc), F.coalesce(
        F.size(full_toks) > max_tokens_per_doc, F.lit(False)
    )


def ngram_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    max_tokens_per_doc: "int | None" = 1_000_000,
) -> DataFrame:
    """Per-document n-gram repetition report (Gopher Table A1 family):

    - ``top_ngram``: the most frequent word n-gram (ties broken to the
      lexicographically smallest — a total order, so engines agree);
    - ``top_ngram_count``: its occurrence count;
    - ``top_ngram_char_frac``: characters covered by occurrences of
      the top n-gram over the document's character count
      (``count * length(gram) / n_chars``, the paper's simple
      non-overlap-corrected form);
    - ``dup_ngram_char_frac``: characters in n-grams occurring at
      least twice over characters in all n-gram occurrences.

    Map-only: one sorted gram array per document, read by the
    :func:`_top_run`, :func:`_total_chars` and
    :func:`_dup_occurrence_chars` folds that back
    :func:`with_gopher_repetition_stats` — no explode, no exchange,
    O(L log L) per document. The result has ONE ROW PER INPUT ROW
    (``id_col`` passed through); with unique ids, as every caller and
    oracle has, that is one row per document. Documents with fewer
    than ``n`` words (or NULL text) get zero counts and fractions and
    a NULL ``top_ngram``.

    ``max_tokens_per_doc`` bounds the per-row sort: one pathological
    multi-GB document would otherwise own a task for hours. Tokens
    beyond the cap are TRUNCATED before gram generation — the stats
    then describe the document's head, with the character denominator
    still the full document, so a truncated giant reads as LOW
    repetition rather than silently pretending full coverage. The
    output's ``truncated`` column flags every capped document, so a
    filter downstream can quarantine them instead of passing a
    repetitive giant on its head's low score. Pass ``None`` to disable
    (``truncated`` is then always false).
    """
    toks, trunc = _capped_tokens(
        words_array(F.col(text_col)), max_tokens_per_doc
    )
    s, t, nc, tc = (
        _free_temp_name(df, f"_ng_{k}") for k in ("s", "t", "nc", "tc")
    )
    # sorted grams, then the folds over them, as materialized columns
    # (the ``_rep_sorted`` discipline: lambdas read attributes, not a
    # re-evaluated sort); NULL text sorts to the empty array
    out = df.select(
        F.col(id_col),
        F.greatest(F.length(text_col), F.lit(1)).cast("double").alias(nc),
        trunc.alias("truncated"),
        F.coalesce(
            F.array_sort(ngrams_from_tokens(toks, n)),
            F.array().cast("array<string>"),
        ).alias(s),
    ).withColumns({t: _top_run(F.col(s)), tc: _total_chars(F.col(s))})
    top, total = F.col(t), F.col(tc)
    return out.select(
        id_col,
        top["bg"].alias("top_ngram"),
        top["best"].alias("top_ngram_count"),
        F.when(
            top["best"] > 0,
            (top["best"] * F.length(top["bg"])).cast("double") / F.col(nc),
        ).otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
        F.when(
            total > 0,
            _dup_occurrence_chars(F.col(s)).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0)).alias("dup_ngram_char_frac"),
        "truncated",
    )


#: Rae et al. 2021 Table A1 — the repetition-filter thresholds: a
#: document passes the repetition half of the Gopher filter iff every
#: signal is <= its bound.
GOPHER_REPETITION_THRESHOLDS: "dict[str, float]" = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

__all__.append("GOPHER_REPETITION_THRESHOLDS")
__all__.append("with_gopher_repetition_stats")


def _dup_occurrence_chars(sorted_arr: Column) -> Column:
    """Characters covered by occurrences whose value appears >= 2
    times in ``sorted_arr`` — :func:`dup_occurrence_count` weighted by
    element length (the shared :func:`_dup_neighbors` predicate)."""
    return F.aggregate(
        _dup_neighbors(sorted_arr),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x),
    )


def _total_chars(arr: Column) -> Column:
    return F.aggregate(
        arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _top_run(sorted_arr: Column) -> Column:
    """``struct(best long, bg string)`` — the longest run's length and
    value in a SORTED array (= the most frequent element's count), in
    ONE linear ``aggregate`` fold instead of an explode + groupBy:
    the accumulator tracks (previous value, current run, best run,
    best value) and ``best`` advances only on a STRICTLY longer run,
    so ties resolve to the first (lexicographically smallest, since
    sorted) maximum — the same (count desc, gram asc) total order the
    SQL oracle's row_number uses. Empty array -> (0, NULL)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(None).cast("string").alias("bg"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bg"]).alias("bg"),
        )

    return F.aggregate(
        sorted_arr,
        init,
        step,
        lambda acc: F.struct(acc["best"].alias("best"), acc["bg"].alias("bg")),
    )


def with_gopher_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    max_tokens_per_doc: "int | None" = 200_000,
) -> DataFrame:
    """ALL of Gopher's Table-A1 repetition signals (Rae et al. 2021)
    in ONE map-only pass — no explode, no groupBy, no shuffle, every
    signal a codegen'd array expression, so at 100 TB this fuses into
    the scan exactly like the quality half (``text.py``):

    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of line
      occurrences (resp. their characters) whose exact text repeats
      within the document (non-empty ``\\n`` lines);
    - ``dup_para_frac`` / ``dup_para_char_frac``: same over
      blank-line-separated paragraphs;
    - ``top_{2,3,4}gram_char_frac``: characters covered by the most
      frequent word n-gram (``count * len(gram) / doc chars``, the
      paper's simple form — ties to the smallest gram);
    - ``dup_{5..10}gram_char_frac``: characters in n-gram occurrences
      appearing >= 2 times over characters in all n-gram occurrences.

    The per-n-gram counts come from a linear fold over the SORTED
    gram array (:func:`_top_run` / neighbor comparisons) instead of an
    explode -> groupBy -> rank shape — O(L log L) per document with
    zero exchanges, which is what makes the COMPOSITE filter a single
    scan.

    Every sorted array (and each top-run fold) is MATERIALIZED as a
    temporary column before the lambdas that index into it — the
    ``_rep_sorted`` discipline from :func:`with_word_repetition_stats`:
    higher-order functions are interpreted, so a lambda referencing
    the sort EXPRESSION would re-evaluate it per element (O(L^2 log
    L) per document); referencing the materialized attribute is O(1).

    ``max_tokens_per_doc`` slices the token stream before gram
    generation (linear cost bound per task; the n-gram fractions of a
    truncated giant describe its head — such documents are flagged in
    the ``truncated`` column, mirroring :func:`ngram_repetition_stats`,
    so a caller with a raised ``max_words`` can quarantine them
    instead of trusting head-only fractions). The default 200k sits
    above the Gopher quality rule's ``max_words`` default of 100k, so
    under default settings truncation can only hit documents the
    composite filter already rejects for length. Empty/NULL text
    yields zeros.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    nc = F.greatest(F.length(t), F.lit(1)).cast("double")

    toks, trunc = _capped_tokens(words_array(t), max_tokens_per_doc)

    # Temp names must not collide with caller columns: withColumns
    # would silently OVERWRITE (and the trailing drops then remove) a
    # pre-existing "_grs_3". Lengthen the prefix until it's free.
    pfx = "_gr"
    while any(c.startswith(pfx) for c in df.columns):
        pfx += "_"
    # n-gram construction is PROGRESSIVE: gram_{n+1} extends the
    # MATERIALIZED gram_n by one shifted token (one zip_with pass),
    # instead of rebuilding each n from the token array (n-1 passes
    # each — 45 interpreted passes and O(n^2)-per-gram string copying
    # across n=2..10, vs 9 passes and O(n) here; HOFs are interpreted
    # with no common-subexpression elimination, so the sharing must
    # be explicit columns, the ``_rep_sorted`` discipline). Each
    # stage is a separate projection: an unsorted gram feeds BOTH its
    # sort and the next gram, so CollapseProject keeps the alias
    # (multi-use, non-cheap) instead of inlining it twice.
    tk = f"{pfx}tk"
    out = df.withColumns({tk: toks, f"{pfx}cnt": F.size(toks)})
    cnt_col = F.col(f"{pfx}cnt")
    toks_col = F.col(tk)
    empty = F.array().cast("array<string>")
    out = out.withColumn(
        f"{pfx}u_2",
        F.when(cnt_col < 2, empty).otherwise(
            F.zip_with(
                F.slice(toks_col, 1, cnt_col - 1),
                F.slice(toks_col, 2, cnt_col - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ),
    )
    for n in range(3, 11):
        m = cnt_col - F.lit(n - 1)
        out = out.withColumn(
            f"{pfx}u_{n}",
            F.when(cnt_col < n, empty).otherwise(
                F.zip_with(
                    F.slice(F.col(f"{pfx}u_{n - 1}"), 1, m),
                    F.slice(toks_col, n, m),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ),
        )
    arrays: "dict[str, Column]" = {
        f"{pfx}s_l": F.array_sort(
            F.filter(F.split(t, r"\n"), lambda x: x != "")
        ),
        f"{pfx}s_p": F.array_sort(
            F.filter(F.split(t, r"\n{2,}"), lambda x: x != "")
        ),
    }
    for n in range(2, 11):
        arrays[f"{pfx}s_{n}"] = F.array_sort(F.col(f"{pfx}u_{n}"))
    out = out.withColumns(arrays).drop(
        tk, f"{pfx}cnt", *[f"{pfx}u_{n}" for n in range(2, 11)]
    )
    # second stage: top-run folds AND total-char folds materialized,
    # so the WHEN branches below read attributes instead of
    # re-running an interpreted fold (HOFs get no codegen and no
    # common-subexpression elimination — a condition + denominator
    # pair would run the O(L) fold twice per row)
    ns = len(pfx) + 1  # chars before the per-array suffix ("_l", "_3")
    folds = {
        f"{pfx}t_{n}": _top_run(F.col(f"{pfx}s_{n}")) for n in (2, 3, 4)
    }
    for key in (f"{pfx}s_l", f"{pfx}s_p", *[f"{pfx}s_{n}" for n in range(5, 11)]):
        folds[f"{pfx}c{key[ns:]}"] = _total_chars(F.col(key))
    # lines/paras need BOTH the dup count and the dup chars: one
    # materialized neighbor-duplicate array each, read twice, instead
    # of running the _dup_neighbors filter fold twice per row
    for suffix in ("l", "p"):
        folds[f"{pfx}d_{suffix}"] = _dup_neighbors(
            F.col(f"{pfx}s_{suffix}")
        )
    out = out.withColumns(folds)

    cols: "dict[str, Column]" = {}
    for name, suffix in (("line", "l"), ("para", "p")):
        arr = F.col(f"{pfx}s_{suffix}")
        dup = F.col(f"{pfx}d_{suffix}")
        n_el = F.greatest(F.size(arr), F.lit(1)).cast("double")
        total = F.col(f"{pfx}c_{suffix}")
        cols[f"dup_{name}_frac"] = F.size(dup).cast("double") / n_el
        cols[f"dup_{name}_char_frac"] = F.when(
            total > 0,
            _total_chars(dup).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))
    for n in (2, 3, 4):
        top = F.col(f"{pfx}t_{n}")
        cols[f"top_{n}gram_char_frac"] = F.when(
            top["best"] > 0,
            (top["best"] * F.length(top["bg"])).cast("double") / nc,
        ).otherwise(F.lit(0.0))
    for n in (5, 6, 7, 8, 9, 10):
        arr = F.col(f"{pfx}s_{n}")
        total = F.col(f"{pfx}c_{n}")
        cols[f"dup_{n}gram_char_frac"] = F.when(
            total > 0,
            _dup_occurrence_chars(arr).cast("double")
            / total.cast("double"),
        ).otherwise(F.lit(0.0))
    cols["truncated"] = trunc

    return (
        out.withColumns(cols)
        .drop(*arrays)
        .drop(*folds)
    )
