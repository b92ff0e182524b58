"""CLI parity (reference main.py + scripts/{config,generate,storage}.py)."""

import io
import os
import sys

import pytest

from tilekiln_spark.cli import main

CFG = """
metadata: {id: clits}
vector_layers:
  water:
    fields: {water: T}
    sql:
    - {minzoom: 0, maxzoom: 6, extent: 2048, file: water.b}
"""


@pytest.fixture
def cfg_path(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text(CFG)
    (tmp_path / "water.b").write_text("water\n")  # template -> builder name
    return str(p)


def test_config_test(cfg_path, capsys):
    assert main(["config", "test", "--config", cfg_path]) == 0
    assert "config ok" in capsys.readouterr().out


def test_generate_zooms_and_storage_roundtrip(spark, cfg_path, tmp_path, capsys, monkeypatch):
    store = str(tmp_path / "store")
    assert main([
        "generate", "zooms", "--config", cfg_path, "--store", store,
        "--min-zoom", "0", "--max-zoom", "2", "--synth-pages", "500",
    ]) == 0
    out = capsys.readouterr().out
    assert "tileset clits snapshot" in out

    # storage inspect on the z0 tile
    assert main([
        "storage", "inspect", "--store", store, "--id", "clits",
        "-z", "0", "-x", "0", "-y", "0",
    ]) == 0
    out = capsys.readouterr().out
    assert "water:" in out and "bytes" in out

    # generate tiles from stdin (expiry-list shape)
    monkeypatch.setattr(sys, "stdin", io.StringIO("1/0/0\n1/1/1\n"))
    assert main([
        "generate", "tiles", "--config", cfg_path, "--store", store,
        "--synth-pages", "500",
    ]) == 0

    # keyed delete from stdin
    monkeypatch.setattr(sys, "stdin", io.StringIO("0/0/0\n"))
    assert main([
        "storage", "tiledelete", "--store", store, "--id", "clits",
    ]) == 0
    assert main([
        "storage", "inspect", "--store", store, "--id", "clits",
        "-z", "0", "-x", "0", "-y", "0",
    ]) == 1  # gone

    # truncate + destroy
    assert main(["storage", "delete", "--store", store, "--id", "clits"]) == 0
    assert main(["storage", "destroy", "--store", store, "--id", "clits"]) == 0
    from tilekiln_spark.config.errors import TilesetMissing

    with pytest.raises(TilesetMissing):
        main(["storage", "inspect", "--store", store, "--id", "clits",
              "-z", "0", "-x", "0", "-y", "0"])


def test_config_plan_prints_formatted(spark, cfg_path, capsys):
    assert main([
        "config", "plan", "--config", cfg_path, "--layer", "water",
        "--zoom", "3", "--synth-pages", "100",
    ]) == 0
    out = capsys.readouterr().out
    assert "BroadcastHashJoin" in out or "Physical Plan" in out


def test_spark_submit_pyfiles_deployment(cfg_path, tmp_path):
    """North-rule deployment shape: spark-submit --py-files tilekiln_spark.zip
    spark_job.py generate zooms ...  Runs from a cwd where the package is NOT
    importable, so both driver and (local-mode) executors resolve
    tilekiln_spark from the zip alone."""
    import shutil
    import subprocess

    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "tilekiln_spark.zip"))
    job = tmp_path / "spark_job.py"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "spark_job.py"), job)
    store = str(tmp_path / "store")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [
            "spark-submit", "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            str(job), "generate", "zooms",
            "--config", cfg_path, "--store", store,
            "--min-zoom", "0", "--max-zoom", "2", "--synth-pages", "300",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert os.path.exists(os.path.join(store, "clits", "metadata.json"))
    # the job actually wrote tiles (snapshot 1 exists with zoom partitions)
    assert os.path.isdir(os.path.join(store, "clits", "lineage"))


def test_generate_zooms_from_sql_template_config(spark, tmp_path, capsys):
    """End-to-end CLI run of the shipped SQL-template config (sample/):
    templates compile — no registered builder names anywhere."""
    import pathlib
    import shutil

    sample = pathlib.Path(__file__).resolve().parent.parent / "sample"
    cfgdir = tmp_path / "samplecfg"
    shutil.copytree(sample, cfgdir)
    store = str(tmp_path / "store")
    assert main([
        "generate", "zooms", "--config", str(cfgdir / "config.yaml"),
        "--store", store, "--min-zoom", "0", "--max-zoom", "2",
        "--synth-pages", "500",
    ]) == 0
    out = capsys.readouterr().out
    assert "tileset sample snapshot" in out
    assert main([
        "storage", "inspect", "--store", store, "--id", "sample",
        "-z", "0", "-x", "0", "-y", "0",
    ]) == 0
    out = capsys.readouterr().out
    assert "water:" in out and "adminline:" in out


def test_serve_parser_wiring():
    """serve static/live/dev + prometheus subcommands parse with the
    reference's defaults (scripts/serve.py, main.py:35-50)."""
    from tilekiln_spark.cli import (
        build_parser,
        cmd_prometheus,
        cmd_serve_dev,
        cmd_serve_live,
        cmd_serve_static,
    )

    p = build_parser()
    a = p.parse_args(["serve", "static", "--store", "/tmp/s"])
    assert (a.fn, a.bind_host, a.bind_port) == (cmd_serve_static, "127.0.0.1", 8000)
    a = p.parse_args(
        ["serve", "live", "--config", "c.yaml", "--store", "/tmp/s",
         "--bind-port", "9001", "--base-url", "http://example"]
    )
    assert (a.fn, a.bind_port, a.base_url) == (cmd_serve_live, 9001, "http://example")
    a = p.parse_args(["serve", "dev", "--config", "c.yaml", "--synth-pages", "99"])
    assert (a.fn, a.synth_pages) == (cmd_serve_dev, 99)
    a = p.parse_args(["prometheus", "--store", "/tmp/s"])
    assert (a.fn, a.bind_host, a.bind_port) == (cmd_prometheus, "0.0.0.0", 10013)


def test_config_sql_prints_reference_sql(capsys):
    """config sql prints the PostGIS SQL the reference would issue
    (reference scripts/config.py:32-60, definition.py:48-77)."""
    import pathlib

    from tilekiln_spark.cli import main

    cfg = str(pathlib.Path(__file__).resolve().parent.parent / "sample" / "config.yaml")
    assert main(["config", "sql", "--config", cfg, "--layer", "water",
                 "-z", "4", "-x", "8", "-y", "8"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("WITH mvtgeom AS -- water/4/8/8")
    assert "ST_TileEnvelope(4, 8, 8, margin=>0.0)" in out
    assert out.rstrip().endswith("SELECT ST_AsMVT(mvtgeom.*, 'water', 2048)\nFROM mvtgeom;")
    # whole tile: one statement per defined layer
    assert main(["config", "sql", "--config", cfg, "-z", "4", "-x", "8", "-y", "8"]) == 0
    out = capsys.readouterr().out
    assert out.count("WITH mvtgeom AS") >= 4
    # unknown layer / out-of-band zoom are errors, like the reference
    assert main(["config", "sql", "--config", cfg, "--layer", "nope",
                 "-z", "4", "-x", "0", "-y", "0"]) == 1
    assert main(["config", "sql", "--config", cfg, "--layer", "country_names",
                 "-z", "1", "-x", "0", "-y", "0"]) == 1


def test_corpus_cli_group(spark, tmp_path, capsys):
    """corpus dedup/sample/pipeline run the training-data operators over
    parquet with no user Python."""
    import json

    from tilekiln_spark.cli import main

    rows = [(i, f"doc {i} unique words w{i} x{i} filler tokens") for i in range(20)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact dups
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bench = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(rows[0][1],)], "text string").write.parquet(bench)

    out = str(tmp_path / "dd.parquet")
    assert main(["corpus", "dedup", "--input", src, "--output", out]) == 0
    assert spark.read.parquet(out).count() == 20

    out2 = str(tmp_path / "s.parquet")
    assert main(["corpus", "sample", "--input", out, "--output", out2,
                 "--fraction", "0.5", "--seed", "7"]) == 0
    n = spark.read.parquet(out2).count()
    assert 3 <= n <= 17
    capsys.readouterr()

    assert main(["corpus", "pipeline", "--input", src,
                 "--benchmark", bench, "--fraction", "1.0"]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_raw"] == 25 and stats["n_exact"] == 20
    assert stats["n_clean"] == stats["n_canonical"] - 1  # bench doc removed


def test_corpus_cli_web(spark, tmp_path, capsys):
    """corpus urlfilter (gates + newest-capture) and hostprofile over parquet."""
    import datetime as dt
    import json

    from tilekiln_spark.cli import main

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, "https://good.example.com/a", t0, "alpha", "en"),
        # same page, newer capture with tracking param -> one survivor (id 2)
        (2, "https://good.example.com/a?utm_source=x", t0 + dt.timedelta(days=1), "alpha", "en"),
        (3, "https://spam.example.com/b", t0, "beta", "en"),
        (4, "ftp://good.example.com/c", t0, "gamma", "en"),
        (5, "https://good.example.com/users/login", t0, "delta", "en"),
    ]
    src = str(tmp_path / "pages.parquet")
    spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string, lang string"
    ).write.parquet(src)

    out = str(tmp_path / "kept.parquet")
    assert main([
        "corpus", "urlfilter", "--input", src, "--output", out,
        "--ts-col", "warc_ts", "--block-host", "spam.example.com",
    ]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel == {
        "kept": 2, "host_blocked": 1, "scheme": 1, "path_badword": 1, "written": 1,
    }
    kept = spark.read.parquet(out).collect()
    assert len(kept) == 1 and kept[0].doc_id == 2

    prof_out = str(tmp_path / "prof.parquet")
    assert main([
        "corpus", "hostprofile", "--input", src, "--output", prof_out, "--top", "2",
    ]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2  # two hosts, ftp host parses too
    prof = {r.host: r for r in spark.read.parquet(prof_out).collect()}
    assert prof["good.example.com"].n_pages == 4
    assert prof["spam.example.com"].n_pages == 1


def test_corpus_cli_quality_lm_bpe(spark, tmp_path, capsys):
    """corpus qualityfilter / lmscore / bpetrain over parquet."""
    import json

    from tilekiln_spark.cli import main

    rows = [
        (1, "the cat and dog walked to the market for a fresh fish that day"),
        (2, "tiny doc"),
        (3, "the cat and dog walked to the market for a fresh loaf that day"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out = str(tmp_path / "kept.parquet")
    assert main([
        "corpus", "qualityfilter", "--input", src, "--output", out,
        "--min-words", "5",
    ]) == 0
    funnel = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert funnel == {"kept": 2, "too_few_words": 1}
    assert spark.read.parquet(out).count() == 2

    lm_out = str(tmp_path / "lm.parquet")
    assert main([
        "corpus", "lmscore", "--input", src, "--output", lm_out, "--top", "1",
    ]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1  # most surprising doc only
    assert spark.read.parquet(lm_out).count() == 3

    bpe_out = str(tmp_path / "merges.parquet")
    assert main([
        "corpus", "bpetrain", "--input", src, "--output", bpe_out,
        "--merges", "4",
    ]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 4
    assert spark.read.parquet(bpe_out).count() == 4


def test_corpus_cli_search_pagerank(spark, tmp_path, capsys):
    """corpus search (BM25) and corpus pagerank over parquet."""
    from tilekiln_spark.cli import main

    docs = [(1, "spark window table spark"), (2, "the cat sat"), (3, "spark table")]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(src)
    assert main(["corpus", "search", "--input", src, "--terms", "spark", "--top", "2"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2
    assert lines[0].split("\t")[0] == "1"  # doc 1 has spark twice

    edges = [(1, 2), (2, 3), (3, 1), (1, 3)]
    epath = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, "src long, dst long").write.parquet(epath)
    out = str(tmp_path / "ranks.parquet")
    assert main(["corpus", "pagerank", "--edges", epath, "--output", out,
                 "--iterations", "4", "--top", "3"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3
    ranks = {r.node: r.rank for r in spark.read.parquet(out).collect()}
    assert set(ranks) == {1, 2, 3}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_corpus_cli_semantic_and_probe(spark, tmp_path, capsys):
    """corpus semdedup / probe / dedupagainst / decontam drive the round-4
    embedding + incremental operators end-to-end over parquet."""
    import numpy as np

    from tilekiln_spark.cli import main

    rng = np.random.default_rng(3)
    base = [(i, rng.standard_normal(8).tolist(), int(i % 2)) for i in range(30)]
    dups = [(100 + i, [x * 1.001 for x in base[i][1]], base[i][2]) for i in range(6)]
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        base + dups, "vec_id long, embedding array<double>, label int"
    ).write.parquet(emb)

    out = str(tmp_path / "sd.parquet")
    assert main([
        "corpus", "semdedup", "--input", emb, "--output", out,
        "--n-centroids", "2", "--centroids", "minkey",
    ]) == 0
    assert spark.read.parquet(out).count() == 30  # 6 copies dropped
    assert "6 semantic dups" in capsys.readouterr().out

    scores = str(tmp_path / "probe.parquet")
    assert main([
        "corpus", "probe", "--train", emb, "--input", emb, "--output", scores,
        "--dim", "8", "--iters", "2",
    ]) == 0
    sc = spark.read.parquet(scores)
    assert sc.count() == 36 and set(sc.columns) == {"vec_id", "prob", "pred"}

    # incremental dedup: new = 3 copies of indexed docs + 2 fresh docs
    docs = [(i, f"indexed document number {i} with shared tokens a{i} b{i} c{i}")
            for i in range(10)]
    idx = str(tmp_path / "idx.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(idx)
    new_rows = [(200 + i, docs[i][1]) for i in range(3)] + [
        (300, "wholly novel text qqq www eee rrr ttt yyy"),
        (301, "another novel doc uuu iii ooo ppp aaa sss"),
    ]
    new = str(tmp_path / "new.parquet")
    spark.createDataFrame(new_rows, "doc_id long, text string").write.parquet(new)
    adm = str(tmp_path / "admitted.parquet")
    capsys.readouterr()
    assert main([
        "corpus", "dedupagainst", "--input", new, "--index", idx,
        "--output", adm,
    ]) == 0
    got = {r.doc_id for r in spark.read.parquet(adm).collect()}
    assert got == {300, 301}
    assert "admitted 2/5" in capsys.readouterr().out

    # decontam with the semantic pass: bench shares doc 0's text AND an
    # embedding near doc 5's
    corpus_rows = [
        (i, docs[i][1], base[i][1]) for i in range(10)
    ]
    cor = str(tmp_path / "cor.parquet")
    spark.createDataFrame(
        corpus_rows, "doc_id long, text string, embedding array<double>"
    ).write.parquet(cor)
    bench_rows = [(docs[0][1], [x * 0.999 for x in base[5][1]])]
    ben = str(tmp_path / "ben.parquet")
    spark.createDataFrame(
        bench_rows, "text string, embedding array<double>"
    ).write.parquet(ben)
    cln = str(tmp_path / "clean.parquet")
    assert main([
        "corpus", "decontam", "--input", cor, "--benchmark", ben,
        "--output", cln, "--vec-col", "embedding",
    ]) == 0
    kept = {r.doc_id for r in spark.read.parquet(cln).collect()}
    assert 0 not in kept and 5 not in kept and len(kept) == 8
    assert "1 lexical, 1 semantic" in capsys.readouterr().out


def test_corpus_cli_tokenize_and_pack(spark, tmp_path, capsys):
    """corpus bpetrain -> tokenize [--seq-len]: ids parquet + packed
    sequences, end-to-end from the command line."""
    from tilekiln_spark.cli import main

    rows = [(i, "low lower lowest low low new newer newest " * 3) for i in range(12)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    merges = str(tmp_path / "merges.parquet")
    assert main(["corpus", "bpetrain", "--input", src, "--output", merges,
                 "--merges", "4"]) == 0
    capsys.readouterr()

    ids = str(tmp_path / "ids.parquet")
    seqs = str(tmp_path / "seqs.parquet")
    # --seq-len without --sequences is a usage error
    assert main(["corpus", "tokenize", "--input", src, "--merges", merges,
                 "--output", ids, "--seq-len", "64"]) == 2
    assert main(["corpus", "tokenize", "--input", src, "--merges", merges,
                 "--output", ids, "--seq-len", "64", "--sequences", seqs]) == 0
    out = capsys.readouterr().out
    assert "tokenized 12 docs" in out and "packed" in out
    idf = spark.read.parquet(ids)
    assert idf.count() == 12
    total = sum(r.n_tokens for r in idf.collect())
    sq = spark.read.parquet(seqs).collect()
    assert sum(r.n_tokens for r in sq) == total
    assert all(r.n_tokens == 64 for r in sq if r.seq < len(sq) - 1)


def test_corpus_cli_buckets_and_resample(spark, tmp_path, capsys):
    """corpus buckets (exact + --estimate) and corpus resample end-to-end."""
    from tilekiln_spark.cli import main

    rows = [(i, ("the cat sat on the mat " * 4) + ("zz " * (i % 4)), "en")
            for i in range(12)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    bk = str(tmp_path / "buckets.parquet")
    assert main(["corpus", "buckets", "--input", src, "--output", bk,
                 "--lang-col", "lang", "--k-vocab", "8", "--m-bigrams", "16"]) == 0
    out = capsys.readouterr().out
    assert "head" in out and "tail" in out
    got = spark.read.parquet(bk)
    assert got.count() == 12 and "bucket" in got.columns

    assert main(["corpus", "buckets", "--input", src, "--output", bk,
                 "--lang-col", "lang", "--k-vocab", "8", "--m-bigrams", "16",
                 "--estimate"]) == 0
    capsys.readouterr()

    rs = str(tmp_path / "picked.parquet")
    # exactly one of --target / --target-where
    assert main(["corpus", "resample", "--input", src, "--output", rs,
                 "--k", "5"]) == 2
    assert main(["corpus", "resample", "--input", src, "--output", rs,
                 "--k", "5", "--target-where", "doc_id % 4 = 0",
                 "--buckets", "256"]) == 0
    out = capsys.readouterr().out
    assert len(out.strip().splitlines()) == 5
    assert spark.read.parquet(rs).count() == 5


def test_storage_cli_diff(spark, tmp_path, capsys):
    from tilekiln_spark.cli import main

    old = str(tmp_path / "old.parquet")
    new = str(tmp_path / "new.parquet")
    spark.createDataFrame(
        [(1, 0, 0, "a"), (1, 0, 1, "b")], "zoom int, x int, y int, d string"
    ).write.parquet(old)
    spark.createDataFrame(
        [(1, 0, 0, "a"), (1, 0, 1, "B"), (1, 1, 1, "n")],
        "zoom int, x int, y int, d string",
    ).write.parquet(new)
    outp = str(tmp_path / "diff.parquet")
    assert main(["storage", "diff", "--old", old, "--new", new,
                 "--output", outp]) == 0
    out = capsys.readouterr().out
    assert "added\t1" in out and "changed\t1" in out
    assert spark.read.parquet(outp).count() == 2
