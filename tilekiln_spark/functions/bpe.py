"""Distributed BPE tokenizer training (Sennrich et al., ACL 2016).

`vocab_topk` gives the counting pass of tokenizer training; this module adds
the actual MERGE training loop — byte-pair encoding in its word-frequency
formulation: train on the table of (distinct word, count) rather than the
token stream, because every occurrence of a word merges identically.

Scale shape:

- The word table is pruned to the top-V word types (TakeOrderedAndProject,
  deterministic tie-break by word — same discipline as vocab_topk / the
  bigram LM), which bounds EVERY round's working set at V rows regardless
  of corpus size.  Real tokenizer training prunes exactly like this: the
  heavy tail of singleton words contributes nothing to early merges.
- Each merge round is one map (re-split the symbol string) + one
  partial-aggregated groupBy on the symbol pair + a 1-ROW TakeOrdered —
  the only data that ever reaches the driver is one (x, y) pair per round.
- Merge application is a single `replace` on the spaced symbol string.
  Both Spark (Java String.replace) and the DuckDB oracle scan
  left-to-right replacing non-overlapping occurrences, which IS the BPE
  greedy-merge rule, so the two engines stay bit-identical on words like
  'aaa' where overlap handling matters.

Word state is a SPACED SYMBOL STRING (' h e l l o </w> ': leading +
trailing space, symbols single-space separated, '</w>' end-of-word marker),
so merging pair (x, y) is replace(' x y ' -> ' xy ') — the boundary spaces
keep a merge from bridging two symbols that only touch lexically.

Encoding applies the learned merge list in training order as a chain of
J static replaces — pure codegen expressions, no UDF, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tilekiln_spark.operators.local_solve import log_decision

END = "</w>"
# word types at or below which bpe_train merges on the driver: the merge
# loop holds one Python string per type, a different unit from the
# int64 rows of local_solve.MAX_LOCAL_ROWS
LOCAL_WORDS = 262144


def _spaced_symbols(word: Column) -> Column:
    """' c h a r s </w> ' — initial per-character symbol string."""
    return F.concat(
        F.lit(" "), F.regexp_replace(word, "(.)", "$1 "), F.lit(END + " ")
    )


def word_counts(df: DataFrame, text_col: str = "text", v_words: int = 100_000) -> DataFrame:
    """Top-V (word, c) table: one partial-aggregated groupBy +
    TakeOrderedAndProject; ties broken by the word string so the training
    set is total and deterministic."""
    from tilekiln_spark.operators.dedup import _tokens

    return (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(v_words)
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    v_words: int = 100_000,
) -> list[tuple[int, str, str, int]]:
    """Learn `num_merges` BPE merges; returns [(round, x, y, pair_count)].

    The returned list is driver-side BY NATURE: each round's best pair is
    one row, and round i+1's plan depends on it (sequential data
    dependency) — num_merges rows total, not a data collect.  Stops early
    if no pair is left to merge (single-symbol words only).

    r6: the working set is the top-V word-type table — bounded at
    ``v_words`` rows BY THE FUNCTION'S OWN CONTRACT (that bound is what
    makes every round's state broadcast-sized; module docstring).  At or
    below ``LOCAL_WORDS`` (262144) the counting pass's rows come back
    once and the merge loop runs locally with the IDENTICAL pair-count /
    (n desc, x asc, y asc) tie-break / non-overlapping left-to-right
    replace semantics — one job instead of two jobs per merge round.  A
    larger v_words keeps the distributed loop.
    """
    local = v_words <= LOCAL_WORDS
    log_decision("bpe_train", local, v_words, LOCAL_WORDS)
    if local:
        rows = word_counts(df, text_col, v_words).collect()
        return _bpe_train_local(
            [(r["w"], int(r["c"])) for r in rows], num_merges
        )
    state = word_counts(df, text_col, v_words).withColumn(
        "s", _spaced_symbols(F.col("w"))
    ).persist()
    state.count()
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, num_merges + 1):
        a = F.split(F.trim(F.col("s")), " ")
        m = F.size(a) - 1
        zipped = F.arrays_zip(
            F.slice(a, 1, m).alias("x"), F.slice(a, 2, m).alias("y")
        )
        best = (
            state.select(F.col("c"), F.explode(zipped).alias("p"))
            .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .agg(F.sum("c").alias("n"))
            .orderBy(F.col("n").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        x, y, n = best[0]["x"], best[0]["y"], int(best[0]["n"])
        merges.append((rnd, x, y, n))
        nxt = state.withColumn(
            "s", F.replace(F.col("s"), F.lit(f" {x} {y} "), F.lit(f" {x}{y} "))
        ).persist()
        nxt.count()
        state.unpersist()
        state = nxt
    state.unpersist()
    return merges


def _bpe_train_local(
    wc: list[tuple[str, int]], num_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-side merge loop over the bounded word-count table — the
    exact distributed semantics: spaced-symbol state (' c h a r s </w> '),
    pair counts summed over word frequencies, best pair by
    (count desc, x asc, y asc), merge applied as the non-overlapping
    left-to-right ' x y ' -> ' xy ' replace (str.replace == Java
    String.replace == the BPE greedy rule on words like 'aaa')."""
    from collections import Counter

    state = [
        (" " + "".join(ch + " " for ch in w) + END + " ", c) for w, c in wc
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, num_merges + 1):
        counts: Counter = Counter()
        for s, c in state:
            syms = s.strip(" ").split(" ")
            for x, y in zip(syms, syms[1:]):
                counts[(x, y)] += c
        if not counts:
            break
        (x, y), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rnd, x, y, int(n)))
        old, new = f" {x} {y} ", f" {x}{y} "
        state = [(s.replace(old, new), c) for s, c in state]
    return merges


def bpe_encode_expr(
    text: Column, merges: list[tuple[int, str, str, int]]
) -> Column:
    """Spaced-symbol string of a whole document after applying the merge
    list in training order — a chain of static replaces, all codegen."""
    from tilekiln_spark.operators.dedup import _tokens

    toks = _tokens(text)
    s = F.concat(
        F.concat_ws(
            "",
            F.transform(
                toks,
                lambda t: F.concat(
                    F.lit(" "), F.regexp_replace(t, "(.)", "$1 "), F.lit(END)
                ),
            ),
        ),
        F.lit(" "),
    )
    for _rnd, x, y, _n in merges:
        s = F.replace(s, F.lit(f" {x} {y} "), F.lit(f" {x}{y} "))
    return s


def bpe_token_count(text: Column, merges: list[tuple[int, str, str, int]]) -> Column:
    """Number of BPE symbols a document encodes to under the merge list."""
    s = F.trim(bpe_encode_expr(text, merges))
    return F.when(s == "", 0).otherwise(F.size(F.split(s, " ")))


def bpe_vocab(enc: DataFrame, syms_col: str = "syms") -> list[str]:
    """Deterministic symbol vocabulary of an encoded corpus: the distinct
    symbols sorted lexicographically; id = list index.  Bounded by
    |distinct characters| + num_merges + 1 (the END marker), so the
    collect is a dimension-table read, not a data collect."""
    rows = (
        enc.select(F.explode(syms_col).alias("sym")).distinct().orderBy("sym").collect()
    )
    return [r["sym"] for r in rows]


def bpe_token_ids(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, token_ids array<int>, n_tokens): the document as ids under the
    learned merge list — the tokenizer's APPLY side, feeding
    pack_token_sequences.

    Encoding is the bpe_encode_expr replace chain (codegen, map-only); the
    vocabulary is data-derived (bpe_vocab — distinct symbols, sorted) and
    rides back as a literal map, so the lookup is one JVM map probe per
    symbol: no join, no shuffle anywhere in this pass at corpus scale.
    Empty/whitespace docs encode to an empty id array (n_tokens 0).

    Partitioning is scale-adaptive (r6, guide §2): the encode chain is
    CPU-bound, so when the source layout offers fewer partitions than the
    session has cores (a small parquet scans as ONE task and the whole
    replace chain runs serially), the input spreads by key first; at
    corpus scale partitions >= cores and no exchange is added."""
    from tilekiln_spark.operators.dedup import spread_cpu

    df = spread_cpu(df, key_col)
    s = F.trim(bpe_encode_expr(F.col(text_col), merges))
    # null text -> null s: fold into the empty-doc branch so token_ids is
    # [] / n_tokens 0 (never a null array, whose F.size is -1 and would
    # poison pack_token_sequences' prefix sum)
    syms = F.when(s.isNull() | (s == ""), F.array().cast("array<string>")).otherwise(
        F.split(s, " ")
    )
    enc = df.select(F.col(key_col), syms.alias("syms"))
    # the vocab collect runs the encode chain once and the output pass runs
    # it again — deliberately NOT persisted: the chain is fused map-only
    # codegen (re-running it costs one scan; pinning the symbol arrays in
    # executor memory at corpus scale costs far more)
    vocab = bpe_vocab(enc)
    pairs: list[Column] = []
    for i, sym in enumerate(vocab):
        pairs += [F.lit(sym), F.lit(i)]
    m = F.create_map(*pairs) if pairs else F.create_map()
    out = enc.select(
        F.col(key_col),
        F.transform(F.col("syms"), lambda x: F.element_at(m, x).cast("int")).alias(
            "token_ids"
        ),
        F.size("syms").cast("long").alias("n_tokens"),
    )
    return out
