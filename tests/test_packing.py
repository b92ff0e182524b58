"""Sequence packing (operators/packing.py)."""

import pyspark.sql.functions as F

from tilekiln_spark.operators import local_solve
from tilekiln_spark.operators.packing import pack_sequences

SEQ = 10


def _docs(spark, lens):
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], "doc_id long, n_tokens long"
    )


def test_pack_contiguous_and_spanning(spark):
    # lens 4+4 fill seq0 to 8; len 5 spans seq0->seq1; len 0 sits at its slot
    d = _docs(spark, [4, 4, 5, 0, 8])
    got = {r.doc_id: r for r in pack_sequences(d, SEQ, "n_tokens").collect()}
    assert (got[0].first_seq, got[0].last_seq, got[0].seq_offset) == (0, 0, 0)
    assert (got[1].first_seq, got[1].seq_offset) == (0, 4)
    assert (got[2].first_seq, got[2].last_seq) == (0, 1)  # spans the boundary
    assert (got[3].first_seq, got[3].last_seq, got[3].seq_offset) == (1, 1, 3)
    assert (got[4].first_seq, got[4].last_seq) == (1, 2)  # 13..20 spans
    # global contiguity: each doc starts where the previous ended
    pos = 0
    for i in sorted(got):
        r = got[i]
        assert r.first_seq * SEQ + r.seq_offset == pos
        pos += r.n_tokens


def test_pack_partition_layout_independent(spark):
    d = _docs(spark, list(range(1, 60)))
    a = sorted(tuple(r) for r in pack_sequences(d, 16, "n_tokens", num_partitions=2).collect())
    b = sorted(tuple(r) for r in
               pack_sequences(d.repartition(7), 16, "n_tokens", num_partitions=5).collect())
    assert a == b


def test_pack_no_global_single_reducer(spark, monkeypatch, local_solve_log):
    # the DISTRIBUTED path (above the r6 local-docs cap) must
    # range-partition, never funnel through one reducer via a global
    # Window.orderBy; the local path is a LocalTableScan by construction
    d = _docs(spark, [3] * 100)
    with monkeypatch.context() as m:
        m.setattr(local_solve, "MAX_LOCAL_ROWS", -1)
        plan = pack_sequences(d, 8, "n_tokens", num_partitions=4)._jdf \
            .queryExecution().executedPlan().toString()
    assert [x["path"] for x in local_solve_log()] == ["distributed"]
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan
    local_plan = pack_sequences(d, 8, "n_tokens")._jdf \
        .queryExecution().executedPlan().toString()
    assert "LocalTableScan" in local_plan


def test_pack_token_sequences_materializes_exact_chunks(spark):
    """The materialized sequences equal a pure-python concat-and-chunk of
    the same id arrays in key order — boundary-spanning docs included."""
    from tilekiln_spark.operators.packing import pack_token_sequences

    rows = [
        (0, list(range(0, 7))),        # 7 ids
        (1, []),                        # zero-length: no membership
        (2, list(range(100, 109))),     # 9 ids -> spans the 8-boundary
        (3, list(range(200, 220))),     # 20 ids -> spans three sequences
        (4, [999]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, token_ids array<int>")
    got = {
        r.seq: (r.token_ids, r.n_tokens)
        for r in pack_token_sequences(df, 8).collect()
    }
    stream = [t for _k, ids in sorted(rows) for t in ids]
    want = {
        s: stream[s * 8:(s + 1) * 8]
        for s in range((len(stream) + 7) // 8)
    }
    assert set(got) == set(want)
    for s, ids in want.items():
        assert got[s] == (ids, len(ids)), s
    full = [s for s in want if len(want[s]) == 8]
    assert all(got[s][1] == 8 for s in full)


def test_bpe_token_ids_roundtrip(spark):
    """bpe_token_ids: ids decode back to the encoded symbol stream via the
    sorted vocabulary; empty docs give empty arrays."""
    from tilekiln_spark.functions.bpe import (
        bpe_encode_expr,
        bpe_token_ids,
        bpe_train,
        bpe_vocab,
    )
    from pyspark.sql import functions as F

    rows = [(0, "low lower lowest low low"), (1, "new newer newest"), (2, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(df, num_merges=4, v_words=100)
    ids = {r.doc_id: (r.token_ids, r.n_tokens) for r in bpe_token_ids(df, merges).collect()}
    assert ids[2] == ([], 0)
    # independent decode: vocab from the same encoded frame
    s = F.trim(bpe_encode_expr(F.col("text"), merges))
    syms_col = F.when(s == "", F.array().cast("array<string>")).otherwise(F.split(s, " "))
    enc = df.select("doc_id", syms_col.alias("syms"))
    vocab = bpe_vocab(enc)
    enc_rows = {r.doc_id: r.syms for r in enc.collect()}
    for k in (0, 1):
        assert [vocab[i] for i in ids[k][0]] == enc_rows[k]
        assert ids[k][1] == len(enc_rows[k]) > 0


def test_pack_token_sequences_null_ids_are_zero_length(spark):
    """A null token_ids array must behave as length 0 (F.size of null is -1
    under the legacy default — it would otherwise corrupt the prefix sum)."""
    from tilekiln_spark.operators.packing import pack_token_sequences

    rows = [(0, list(range(5))), (1, None), (2, list(range(100, 105)))]
    df = spark.createDataFrame(rows, "doc_id long, token_ids array<int>")
    got = {r.seq: r.token_ids for r in pack_token_sequences(df, 8).collect()}
    assert got == {0: list(range(5)) + [100, 101, 102], 1: [103, 104]}


def test_pack_local_equals_two_pass(spark, monkeypatch, local_solve_log):
    # r6 size-adaptive path: the driver-local prefix sum must be
    # bit-identical to the two-pass range-partition form, including the
    # RANGE-frame tie semantics for duplicate keys and zero-length docs
    from pyspark.sql import functions as F

    from tilekiln_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 10), (1, 5), (2, 0), (3, 7), (3, 7), (4, 4096), (5, 1)],
        "doc_id long, n long",
    )
    big = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n")
    )
    for frame in (df, big):
        local = sorted(tuple(r) for r in pack_sequences(frame, 8, "n").collect())
        with monkeypatch.context() as m:
            m.setattr(local_solve, "MAX_LOCAL_ROWS", -1)
            dist = sorted(tuple(r) for r in pack_sequences(frame, 8, "n").collect())
        assert local == dist
    assert [d["path"] for d in local_solve_log()] == ["local", "distributed"] * 2
