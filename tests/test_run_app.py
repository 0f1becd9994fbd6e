"""End-to-end CLI runner tests: run_app.main() driven in-process.

Covers the reference binary's surface (run_eventflux.rs:20-42): SQL file +
YAML config + --set conf overrides + -e extension plugins, plus the three
batch output sinks. Uses the active test SparkSession (get_spark returns
the existing session, so --master/conf overrides are no-ops here — the
wiring under test is argument parsing → registration → compile → sink).
"""

from __future__ import annotations

import json
import os
import sys

import run_app

SF = "/root/testdata/sf0.001"


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


APP_SQL = """
CREATE STREAM events (ts TIMESTAMP, user_id BIGINT, event_id BIGINT,
                      event_type VARCHAR, value DOUBLE);
INSERT INTO Out SELECT user_id, value FROM events WHERE value > 4;
"""


def test_cli_console_and_count(spark, tmp_path, capsys):
    sql = _write(tmp_path, "app.sql", APP_SQL)
    assert run_app.main(stop=False, argv=[sql, "--register", f"events={SF}/events.parquet:ts"]) == 0
    out = capsys.readouterr().out
    assert "[Out]" in out and "user_id" in out

    cfg = _write(tmp_path, "cfg.yaml", "output: count\n")
    assert run_app.main(
        stop=False,
        argv=[sql, "-c", cfg, "--register", f"events={SF}/events.parquet:ts"],
    ) == 0
    out = capsys.readouterr().out
    assert "rows" in out


def test_cli_parquet_and_filequeue_sinks(spark, tmp_path):
    sql = _write(tmp_path, "app.sql", APP_SQL)
    cfg = _write(tmp_path, "cfg.yaml", f"output: parquet:{tmp_path}/pq\n")
    assert run_app.main(
        stop=False,
        argv=[sql, "-c", cfg, "--register", f"events={SF}/events.parquet:ts"],
    ) == 0
    got = spark.read.parquet(f"{tmp_path}/pq/Out")
    assert got.count() > 0 and set(got.columns) == {"user_id", "value"}

    cfg2 = _write(tmp_path, "cfg2.yaml", f"output: filequeue:{tmp_path}/fq\n")
    assert run_app.main(
        stop=False,
        argv=[sql, "-c", cfg2, "--register", f"events={SF}/events.parquet:ts"],
    ) == 0
    # batch runs use their own 'batch-' namespace so a later STREAMING
    # run on the same root cannot mistake them for its own epochs
    seg_root = f"{tmp_path}/fq/Out/segments/batch-0000000000"
    rows = [
        json.loads(line)
        for f in os.listdir(seg_root)
        if f.startswith("part-") and f.endswith(".json")
        for line in open(os.path.join(seg_root, f))
    ]
    assert len(rows) == got.count()
    assert all(r["value"] > 4 for r in rows)

    # a SECOND batch run appends epoch 1 (no silent no-op on rerun)
    assert run_app.main(
        stop=False,
        argv=[sql, "-c", cfg2, "--register", f"events={SF}/events.parquet:ts"],
    ) == 0
    assert os.path.isdir(f"{tmp_path}/fq/Out/segments/batch-0000000001")


def test_cli_yaml_streams_and_extension(spark, tmp_path, capsys):
    sql = _write(tmp_path, "app.sql", APP_SQL)
    cfg = _write(
        tmp_path,
        "cfg.yaml",
        "streams:\n"
        f"  events: {{path: {SF}/events.parquet, ts_col: ts}}\n"
        "output: count\n",
    )
    ext_dir = tmp_path / "ext"
    ext_dir.mkdir()
    (ext_dir / "myext.py").write_text(
        "CALLED = []\n\ndef register():\n    CALLED.append(1)\n"
    )
    sys.path.insert(0, str(ext_dir))
    try:
        assert run_app.main(stop=False, argv=[sql, "-c", cfg, "-e", "myext"]) == 0
        import myext

        assert myext.CALLED == [1]
    finally:
        sys.path.remove(str(ext_dir))
        sys.modules.pop("myext", None)
    assert "rows" in capsys.readouterr().out


def test_cli_dedup_stream_two_epochs_compaction_and_replay(spark, tmp_path):
    """--dedup-stream end-to-end: two micro-batch ingests dedup segments
    across epochs exactly-once, --dedup-compact-every merges the state
    dirs behind the newest epoch, and a simulated crash-replay (the
    checkpoint's last commit marker removed) republishes NOTHING and
    changes NO answers."""
    import shutil

    in_dir = tmp_path / "drops"
    out_dir = tmp_path / "out"
    state = tmp_path / "state"
    in_dir.mkdir()

    def drop(rows, name):
        stage = tmp_path / "stage" / name
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        shutil.copy(str(part), str(in_dir / f"{name}.parquet"))

    argv = [
        "--dedup-stream", str(in_dir),
        "--dedup-state", str(state),
        "--dedup-out", str(out_dir),
        "--dedup-compact-every", "1",
    ]
    # epoch 0: doc 2 repeats doc 1's segment content inside the batch
    drop([(1, "aa bb cc dd"), (2, "aa bb cc dd")], "b0")
    assert run_app.main(stop=False, argv=argv) == 0
    e0 = {
        r.doc_id: r
        for r in spark.read.parquet(str(out_dir / "epoch-0000000000")).collect()
    }
    assert e0[1].n_kept > 0 and e0[2].n_kept == 0

    # epoch 1: doc 3 repeats epoch 0's content, doc 4 is fresh
    drop([(3, "aa bb cc dd"), (4, "ee ff gg hh")], "b1")
    assert run_app.main(stop=False, argv=argv) == 0
    e1 = {
        r.doc_id: r
        for r in spark.read.parquet(str(out_dir / "epoch-0000000001")).collect()
    }
    assert e1[3].n_kept == 0 and e1[4].n_kept > 0
    # compaction ran at epoch 1 with watermark 0: a single state dir set
    # would be one dir; with only one victim compact() is a no-op, so
    # just assert the store still answers correctly below.

    # crash-replay: drop batch 2 AND delete its commit marker after the
    # run, forcing Spark to re-run the final micro-batch on restart
    drop([(5, "ee ff gg hh"), (6, "ii jj kk ll")], "b2")
    assert run_app.main(stop=False, argv=argv) == 0
    e2_first = sorted(
        (r.doc_id, r.n_kept)
        for r in spark.read.parquet(str(out_dir / "epoch-0000000002")).collect()
    )
    assert e2_first == [(5, 0), (6, 3)] or e2_first[0] == (5, 0)
    ckpt_commits = state / "_checkpoint" / "commits"
    committed = sorted(
        p for p in ckpt_commits.iterdir() if not p.name.startswith(".")
    )
    committed[-1].unlink()  # simulate crash after state commit, before ack
    crc = ckpt_commits / f".{committed[-1].name}.crc"
    if crc.exists():  # drop the checksum sibling with its payload
        crc.unlink()
    assert run_app.main(stop=False, argv=argv) == 0  # replays batch 2
    e2_replay = sorted(
        (r.doc_id, r.n_kept)
        for r in spark.read.parquet(str(out_dir / "epoch-0000000002")).collect()
    )
    assert e2_replay == e2_first  # idempotent: same answer, no double rows
    # state stayed sane: a fresh repeat of epoch-2 content is still a dup
    from engine_spark.datapipe.bloom import BloomDedupStore
    from engine_spark.datapipe.segments import dedup_segments_stream

    store = BloomDedupStore(spark, str(state), normalize=False)
    probe = spark.createDataFrame(
        [(9, "ii jj kk ll")], "doc_id long, text string"
    )
    (row,) = dedup_segments_stream(store, probe, 99).collect()
    assert row.n_kept == 0


def test_cli_index_stream_two_epochs_query_and_replay(spark, tmp_path, capsys):
    """--index-stream end-to-end: two micro-batch ingests grow the BM25
    postings store exactly-once, --index-query answers from the whole
    accumulated index, and re-running over the same drops (same
    checkpoint) replays nothing and returns identical hits."""
    import shutil

    in_dir = tmp_path / "drops"
    state = tmp_path / "state"
    in_dir.mkdir()

    def drop(rows, name):
        stage = tmp_path / "stage" / name
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        shutil.copy(str(part), str(in_dir / f"{name}.parquet"))

    argv = [
        "--index-stream", str(in_dir),
        "--index-state", str(state),
        "--index-query", "spark cluster;cats",
    ]
    drop([(1, "spark shuffles data across the cluster"),
          (2, "the cluster scales spark jobs")], "b0")
    assert run_app.main(stop=False, argv=argv) == 0
    first = [
        line for line in capsys.readouterr().out.splitlines()
        if line.startswith("[index-query]")
    ]
    assert any("q0" in line for line in first)
    assert not any("q1" in line for line in first)  # no cats doc yet

    drop([(3, "data pipelines feed training jobs"),
          (4, "an unrelated document about cats")], "b1")
    assert run_app.main(stop=False, argv=argv) == 0
    second = [
        line for line in capsys.readouterr().out.splitlines()
        if line.startswith("[index-query]")
    ]
    assert any("q1 #1: doc 4" in line for line in second)

    # replay: nothing new to ingest; hits identical
    assert run_app.main(stop=False, argv=argv) == 0
    third = [
        line for line in capsys.readouterr().out.splitlines()
        if line.startswith("[index-query]")
    ]
    assert third == second
    # exactly-once state growth: two epochs, no duplicates
    epochs = [d.name for d in (state / "postings").iterdir()
              if d.name.startswith("epoch-")]
    assert sorted(epochs) == ["epoch-0000000000", "epoch-0000000001"]


def test_cli_index_stream_compaction_errors_surface(
    spark, tmp_path, capsys, monkeypatch
):
    """The compaction sink must swallow ONLY the benign replayed-watermark
    case ("already compacted"); any other ValueError — a phantom or stale
    watermark after a checkpoint rebuild — must surface on stdout instead
    of silently disabling compaction forever — ADVICE r10 regression."""
    import shutil

    from engine_spark.datapipe.retrieval_store import IncrementalBM25Index

    in_dir = tmp_path / "drops"
    state = tmp_path / "state"
    in_dir.mkdir()

    def drop(rows, name):
        stage = tmp_path / "stage" / name
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        shutil.copy(str(part), str(in_dir / f"{name}.parquet"))

    argv = [
        "--index-stream", str(in_dir),
        "--index-state", str(state),
        "--index-compact-every", "1",
    ]
    # separate runs so the checkpoint advances the epoch counter past 0
    # (epoch 0 never triggers the every-N compaction cadence)
    drop([(1, "alpha beta")], "b0")
    assert run_app.main(stop=False, argv=argv) == 0
    capsys.readouterr()

    # a phantom-watermark failure must be printed, not discarded
    def phantom(self, upto):
        raise ValueError(f"compact(upto_epoch={upto}) must name a committed epoch")

    monkeypatch.setattr(IncrementalBM25Index, "compact", phantom)
    drop([(2, "beta gamma")], "b1")
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "compaction skipped" in out and "committed epoch" in out

    # the benign replay case stays silent
    def replayed(self, upto):
        raise ValueError(f"already compacted at epoch {upto}; pick a higher one")

    drop([(3, "gamma delta")], "b2")
    monkeypatch.setattr(IncrementalBM25Index, "compact", replayed)
    assert run_app.main(stop=False, argv=argv) == 0
    assert "compaction skipped" not in capsys.readouterr().out


def test_cli_dedup_stream_compaction_errors_surface(
    spark, tmp_path, capsys, monkeypatch
):
    """The dedup-stream compaction sink must swallow ONLY the benign
    replayed-watermark case ("already compacted"); any other ValueError —
    a phantom or stale watermark after a checkpoint rebuild restarts
    epoch ids — must surface on stdout instead of silently disabling
    dedup-state compaction forever (VERDICT r10 finding #1: the un-fixed
    sibling of the index-stream narrowing)."""
    import shutil

    from engine_spark.datapipe.bloom import BloomDedupStore

    in_dir = tmp_path / "drops"
    out_dir = tmp_path / "out"
    state = tmp_path / "state"
    in_dir.mkdir()

    def drop(rows, name):
        stage = tmp_path / "stage" / name
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        shutil.copy(str(part), str(in_dir / f"{name}.parquet"))

    argv = [
        "--dedup-stream", str(in_dir),
        "--dedup-state", str(state),
        "--dedup-out", str(out_dir),
        "--dedup-compact-every", "1",
    ]
    # separate runs so the checkpoint advances the epoch counter past 0
    # (epoch 0 never triggers the every-N compaction cadence)
    drop([(1, "aa bb cc dd")], "b0")
    assert run_app.main(stop=False, argv=argv) == 0
    capsys.readouterr()

    # a stale-watermark failure must be printed, not discarded
    def stale(self, upto):
        raise ValueError(
            f"compact(upto_epoch={upto}) must be strictly below the newest "
            "committed epoch"
        )

    monkeypatch.setattr(BloomDedupStore, "compact", stale)
    drop([(2, "ee ff gg hh")], "b1")
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "compaction skipped" in out and "strictly below" in out

    # the benign replay case stays silent
    def replayed(self, upto):
        raise ValueError(f"already compacted at epoch {upto}; pick a higher one")

    monkeypatch.setattr(BloomDedupStore, "compact", replayed)
    drop([(3, "ii jj kk ll")], "b2")
    assert run_app.main(stop=False, argv=argv) == 0
    assert "compaction skipped" not in capsys.readouterr().out


def test_cli_vector_stream_build_ingest_compact_query(spark, tmp_path, capsys):
    """--vector-stream end-to-end: the first micro-batch trains and
    publishes the base IVF build, later batches land exactly-once ingest
    epochs, the compaction cadence merges them behind the newest epoch,
    a forced replay of the BUILD batch is a no-op (the _base_epoch
    sidecar), and --vector-query answers match the live ivf_search twin
    over the union corpus with the persisted codebook."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from engine_spark.datapipe.ivf import ivf_search

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    in_dir = tmp_path / "drops"
    state = tmp_path / "ivf"
    in_dir.mkdir()

    def drop(df, name):
        stage = tmp_path / "stage" / name
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
        shutil.copy(str(part), str(in_dir / f"{name}.parquet"))

    argv = [
        "--vector-stream", str(in_dir),
        "--vector-state", str(state),
        "--vector-compact-every", "1",
        "--vector-query", "4",
    ]
    # run 1: first batch trains + builds the base
    drop(emb.filter(F.col("vec_id") % 3 == 0), "b0")
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "trained + built base" in out
    assert (state / "codebook.json").exists()

    # forced replay of the build batch: remove the last commit marker
    commits = state / "_checkpoint" / "commits"
    newest = sorted(p for p in commits.iterdir() if not p.name.startswith("."))[-1]
    newest.unlink()
    crc = commits / f".{newest.name}.crc"
    if crc.exists():
        crc.unlink()
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "is the base build (replay)" in out  # sidecar no-op, no rebuild

    # runs 2-3: ingest epochs; the cadence compacts (watermark skips the
    # base epoch, then merges ingest epochs 1..2 behind epoch 3)
    drop(emb.filter(F.col("vec_id") % 3 == 1), "b1")
    assert run_app.main(stop=False, argv=argv) == 0
    capsys.readouterr()
    drop(emb.filter(F.col("vec_id") % 3 == 2), "b2")
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "epoch 2 committed" in out
    drop(emb.filter(F.lit(False)), "b3")  # empty epoch 3 triggers cadence
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "compacted 2 ingest epochs <= 2" in out
    epochs = [d.name for d in (state / "epochs").iterdir()
              if d.name.startswith("epoch-")]
    assert "epoch-0000000002-c" in epochs
    assert "epoch-0000000001" not in epochs  # vacuumed

    # query parity: printed hits == live ivf_search over the union corpus
    # with the PERSISTED codebook
    hits = [line for line in out.splitlines()
            if line.startswith("[vector-query]")]
    cents = json.loads((state / "codebook.json").read_text())["cents"]
    live = ivf_search(
        emb, cents, full_dim=64, cell_dim=16, n_queries=4, nprobe=2, topk=3
    )
    want = [
        f"[vector-query] q{r['q_id']} #{r['rnk']}: "
        f"vec {r['cand_id']} cos {r['cos_sim']:.6f}"
        for r in live.orderBy("q_id", "rnk").collect()
    ]
    assert hits == want


def test_cli_vector_stream_over_prebuilt_index_recovers(spark, tmp_path,
                                                        capsys):
    """An IVF index built OUTSIDE the stream has no _base_epoch.json
    sidecar; the stream must treat the missing marker as 'no stream
    epoch is the base' and ingest normally instead of crashing at the
    sidecar read forever (ADVICE r11)."""
    import shutil

    from pyspark.sql import functions as F

    from engine_spark.datapipe.ivf import ivf_index_build

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    in_dir = tmp_path / "drops"
    state = tmp_path / "ivf"
    in_dir.mkdir()

    ivf_index_build(
        spark, emb.filter(F.col("vec_id") % 3 == 0), str(state),
        full_dim=64, cell_dim=16, k=4, iters=2,
    )
    assert (state / "codebook.json").exists()
    assert not (state / "_base_epoch.json").exists()

    stage = tmp_path / "stage"
    df = emb.filter(F.col("vec_id") % 3 == 1)
    df.coalesce(1).write.mode("overwrite").parquet(str(stage))
    (part,) = [p for p in stage.iterdir() if p.name.endswith(".parquet")]
    shutil.copy(str(part), str(in_dir / "b0.parquet"))

    argv = [
        "--vector-stream", str(in_dir),
        "--vector-state", str(state),
        "--vector-query", "2",
    ]
    assert run_app.main(stop=False, argv=argv) == 0
    out = capsys.readouterr().out
    assert "epoch 0 committed" in out
    assert "[vector-query]" in out


def test_cli_metrics_port_serves_scrapes_during_run(spark, tmp_path, capsys):
    """--metrics-port attaches the Prometheus endpoint for the run: the
    startup line names the bound port, the endpoint answers while the
    app runs (probed via a plugin hook that scrapes mid-run), and it is
    torn down with the run."""
    import http.client
    import re
    import textwrap

    sql = _write(tmp_path, "app.sql", APP_SQL)
    # a plugin whose register() scrapes the endpoint mid-run: by the time
    # extensions load, the metrics server is already up
    plug_dir = tmp_path / "plug"
    plug_dir.mkdir()
    (plug_dir / "scrape_plugin.py").write_text(textwrap.dedent("""
        import http.client, os

        def register():
            port = int(os.environ["TEST_METRICS_PORT"])
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
            conn.request("GET", "/metrics")
            resp = conn.getresponse()
            body = resp.read().decode()
            conn.close()
            assert resp.status == 200, resp.status
            assert "engine_spark_input_rows_total" in body
            os.environ["TEST_METRICS_SCRAPED"] = "1"
    """))
    sys.path.insert(0, str(plug_dir))
    try:
        # two-phase: first run grabs the port... the port is ephemeral per
        # run, so use a fixed free port instead
        import socket

        s = socket.socket()
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
        s.close()
        os.environ["TEST_METRICS_PORT"] = str(port)
        os.environ.pop("TEST_METRICS_SCRAPED", None)
        assert run_app.main(
            stop=False,
            argv=[sql, "--register", f"events={SF}/events.parquet:ts",
                  "--metrics-port", str(port), "-e", "scrape_plugin"],
        ) == 0
        out = capsys.readouterr().out
        m = re.search(r"\[metrics\] serving /metrics on port (\d+)", out)
        assert m and int(m.group(1)) == port
        assert os.environ.get("TEST_METRICS_SCRAPED") == "1"
        # torn down with the run: the port no longer answers
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=2)
        try:
            conn.request("GET", "/metrics")
            conn.getresponse()
            alive = True
        except OSError:
            alive = False
        finally:
            conn.close()
        assert not alive, "metrics endpoint survived the run"
    finally:
        sys.path.remove(str(plug_dir))
        os.environ.pop("TEST_METRICS_PORT", None)
        os.environ.pop("TEST_METRICS_SCRAPED", None)


def test_default_driver_memory_never_above_host():
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap defaults to at most
    half of the host's physical memory, never a fixed size above it."""
    from engine_spark.session import default_driver_memory

    mem = default_driver_memory()
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("m") and 0 < int(mem[:-1]) * 2**20 <= host // 2
