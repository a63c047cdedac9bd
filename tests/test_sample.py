"""datalib.sample — deterministic splits/samples and context chunking."""

from __future__ import annotations

import pytest

from transcriptpipe.datalib import sample


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(n)))
            for i, n in enumerate([0, 1, 5, 63, 64, 65, 130, 200])]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash_split_deterministic_and_weighted(spark):
    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"]: r["split"] for r in sample.hash_split(df).collect()}
    s2 = {r["doc_id"]: r["split"] for r in sample.hash_split(df).collect()}
    assert s1 == s2  # retry/run stability
    from collections import Counter

    c = Counter(s1.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.975 < c["train"] / 20000 < 0.985
    assert 0.005 < c["val"] / 20000 < 0.015
    assert 0.005 < c["test"] / 20000 < 0.015
    # changing the salt reshuffles membership
    s3 = {r["doc_id"]: r["split"]
          for r in sample.hash_split(df, salt="other").collect()}
    assert s3 != s1


def test_hash_split_cluster_key_prevents_leakage(spark):
    """Keying the split by cluster_id puts every near-dup member in ONE
    split — the anti-leakage recipe."""
    rows = [(i, i % 7) for i in range(200)]  # 7 clusters
    df = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = sample.hash_split(df, key_col="cluster_id").collect()
    per_cluster = {}
    for r in out:
        per_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(v) == 1 for v in per_cluster.values())


def test_hash_sample_fraction(spark):
    df = spark.range(50000).withColumnRenamed("id", "doc_id")
    n = sample.hash_sample(df, 0.1).count()
    assert 0.09 * 50000 < n < 0.11 * 50000
    assert sample.hash_sample(df, 0.1).count() == n  # deterministic


def test_chunk_text_reconstructs_tokens(docs):
    """Chunks cover every token exactly once modulo the declared overlap,
    in order, and respect the max size."""
    out = sample.chunk_text(docs, max_tokens=64, overlap=8)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"],
          r["token_start"]) for r in out.collect())
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc = {}
    for did, ci, ct, nt, ts in rows:
        by_doc.setdefault(did, []).append((ci, ct, nt, ts))
    for did, chunks in by_doc.items():
        toks = texts[did].split(" ") if texts[did] else [""]
        step = 64 - 8
        for ci, ct, nt, ts in chunks:
            assert ts == ci * step
            want = toks[ts:ts + 64]
            assert ct.split(" ") == want or (ct == "" and want == [""])
            assert nt == len(want)
        # full coverage: last chunk reaches the end
        last = chunks[-1]
        assert last[3] + last[2] >= len(toks)
    # a 65-token doc needs 2 chunks (56-token step), a 63-token doc 1
    assert len(by_doc[5]) == 2 and len(by_doc[3]) == 1


def test_pack_chunks_token_budget_and_reconstruction(spark):
    """pack_chunks (concat-then-chunk sequence packing): every chunk except
    possibly each bucket's last is exactly max_tokens tokens; re-joining a
    bucket's chunks in chunk_idx order reconstructs the bucket's full
    (hash, id)-ordered token stream; and assignment is deterministic."""
    rows = [(i, " ".join(f"t{i}_{j}" for j in range(1 + (i * 17) % 50)))
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sample.pack_chunks(df, max_tokens=32, buckets=4).collect()
    assert out  # non-degenerate
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    assert set(by_bucket) <= set(range(4))
    total_tokens = 0
    for bucket, chunks in by_bucket.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        # token budget: all-but-last chunks are exactly full
        for r in chunks[:-1]:
            assert r["n_tokens"] == 32, (bucket, r["chunk_idx"])
        assert 1 <= chunks[-1]["n_tokens"] <= 32
        # contiguous windows, no overlap
        assert [r["token_start"] for r in chunks] == [
            i * 32 for i in range(len(chunks))]
        total_tokens += sum(r["n_tokens"] for r in chunks)
    # reconstruction: every input token lands in exactly one chunk
    n_input_tokens = sum(len(t.split(" ")) for _, t in rows)
    assert total_tokens == n_input_tokens
    # determinism across invocations
    again = sample.pack_chunks(df, max_tokens=32, buckets=4).collect()
    key = lambda rs: sorted((r["bucket"], r["chunk_idx"], r["chunk_text"])
                            for r in rs)
    assert key(again) == key(out)


def test_chunk_text_rejects_bad_overlap(docs):
    with pytest.raises(ValueError):
        sample.chunk_text(docs, max_tokens=8, overlap=8)


def _shard_reference(rows, budget, salt="shard-v1"):
    """Plain-Python global prefix-sum sharding in (md5, id) order."""
    import hashlib

    def h(i):
        return hashlib.md5(f"{salt}{i}".encode()).hexdigest()

    ordered = sorted(rows, key=lambda r: (h(r[0]), r[0]))
    out, cum = {}, 0
    for i, t in ordered:
        n = 0 if t is None or not t.strip() else len(t.strip().split())
        out[i] = (n, cum // budget)
        cum += n
    return out


def test_shard_by_budget_matches_reference_and_partitioning(spark):
    rows = [(i, None if i % 37 == 0 else
             " ".join(f"w{i}_{j}" for j in range(1 + (i * 13) % 40)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _shard_reference(rows, budget=200)
    for parts in (2, 7):
        got = {r["doc_id"]: (r["n_tokens"], r["shard_id"])
               for r in sample.shard_by_budget(
                   df.repartition(parts), 200, partitions=parts).collect()}
        assert got == want, f"partitions={parts}"


def test_shard_by_budget_rejects_bad_budget(docs):
    with pytest.raises(ValueError):
        sample.shard_by_budget(docs, 0)
    with pytest.raises(ValueError):
        sample.shard_by_budget(docs, 100, partitions=70000)


def test_shard_by_budget_default_buckets_clamped(spark, monkeypatch):
    """On a cluster wider than 32k cores the default bucket count
    (defaultParallelism * 2) is clamped to 65536 instead of raising; only
    an explicit out-of-range ``partitions=`` raises
    (test_shard_by_budget_rejects_bad_budget)."""
    rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 9))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(type(spark.sparkContext), "defaultParallelism",
                        property(lambda self: 40000))
    out = sample.shard_by_budget(df, 20)
    # bucket = u16(prefix) * B / 65536 with B = 65536
    assert "* cast(65536 as bigint)" in out._jdf.queryExecution().analyzed().toString()
    got = {r["doc_id"]: (r["n_tokens"], r["shard_id"]) for r in out.collect()}
    assert got == _shard_reference(rows, budget=20)


def test_shard_by_budget_bucket_count_invariant(spark):
    """Round 6 internals (md5-prefix buckets replacing repartitionByRange):
    the global prefix sum — and so every shard assignment — must be
    IDENTICAL for any bucket count, including more buckets than rows and
    the 65536 edge (one bucket per prefix value)."""
    rows = [(i, " ".join(f"w{j}" for j in range(1 + (i * 7) % 25)))
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = _shard_reference(rows, budget=100)
    for parts in (1, 64, 1000, 65536):
        got = {r["doc_id"]: (r["n_tokens"], r["shard_id"])
               for r in sample.shard_by_budget(
                   df, 100, partitions=parts).collect()}
        assert got == want, f"partitions={parts}"
