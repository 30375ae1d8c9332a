"""Pipeline-op tests: dedup / text / ANN over the driver tables."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geomesa_sql_spark.ops import (
    cosine_topk,
    exact_dedup,
    lang_id,
    lsh_bucket_ann,
    lsh_near_dup_pairs,
    minhash_signatures,
    near_dup_embeddings,
    quality_score,
    simhash64,
    token_count,
)


def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup(spark, sf_dir):
    d = docs(spark, sf_dir)
    # duplicate every doc with a shifted id; dedup must keep the originals
    dup = d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(dup)
    out = exact_dedup(both, ["text"], "doc_id")
    assert out.count() == d.count()
    assert out.agg(F.max("doc_id")).first()[0] < 1_000_000


def test_minhash_lsh_near_dup(spark, sf_dir):
    d = docs(spark, sf_dir).limit(100)
    # make near-dups: copy with the last word changed
    mod = d.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzz"))
    )
    both = d.unionByName(mod)
    pairs = lsh_near_dup_pairs(both, "text", "doc_id", jaccard_threshold=0.6)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(r.doc_id, r.doc_id + 1_000_000) for r in d.select("doc_id").collect()}
    # LSH is probabilistic per-pair but at jaccard≈0.95 recall should be total
    assert want <= got
    # no false positives below threshold
    for r in pairs.collect():
        assert r.jaccard >= 0.6


def test_minhash_signature_deterministic(spark, sf_dir):
    d = docs(spark, sf_dir).limit(10)
    s1 = {r.doc_id: r.sig for r in minhash_signatures(d, "text", "doc_id").collect()}
    s2 = {r.doc_id: r.sig for r in minhash_signatures(d, "text", "doc_id").collect()}
    assert s1 == s2


def test_simhash_similar_texts_close(spark, sf_dir):
    d = docs(spark, sf_dir).limit(20)
    mod = d.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzz"))
    )
    sh = simhash64(d.unionByName(mod), "text", "doc_id").toPandas().set_index("doc_id")
    for i in sh.index:
        if i >= 1_000_000:
            continue
        a, b = np.uint64(sh.simhash[i]), np.uint64(sh.simhash[i + 1_000_000])
        ham = bin(int(a ^ b)).count("1")
        assert ham <= 12, (i, ham)


def test_token_count_and_quality(spark, sf_dir):
    d = quality_score(docs(spark, sf_dir))
    pdf = d.select("text", "n_tokens", "quality").limit(50).toPandas()
    for _, row in pdf.iterrows():
        assert row.n_tokens == len(row.text.split()), row.text[:40]
        assert 0.0 <= row.quality <= 1.0


def test_redact_pii(spark, sf_dir):
    """Planted PII shapes are all replaced by markers; clean text and
    NULLs pass through untouched (pii_redacted=false); ordinary
    numeric text (years, short number pairs) is NOT redacted; kinds=
    restricts patterns; plans stay pure JVM (no Python stage)."""
    from geomesa_sql_spark.ops import redact_pii

    rows = [
        (1, "mail me at bob.smith+x@example.co.uk today"),
        (2, "card 4111 1111 1111 1111 expires soon"),
        (3, "server at 192.168.001.1 and 8.8.8.8"),
        (4, "ssn 123-45-6789 leaked"),
        (5, "call +44 20 7946 0958 or (020) 7946-0958 or 555-123-4567"),
        (6, "in 1995 2000 people saw 42 things; pi is 3.14159"),
        (7, None),
        (8, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = redact_pii(df).orderBy("id").collect()
    got = {r.id: (r.text, r.pii_redacted) for r in out}
    assert got[1][0] == "mail me at [EMAIL] today" and got[1][1]
    assert got[2][0] == "card [CARD] expires soon" and got[2][1]
    assert got[3][0] == "server at [IP] and [IP]" and got[3][1]
    assert got[4][0] == "ssn [SSN] leaked" and got[4][1]
    assert got[5][0] == "call [PHONE] or [PHONE] or [PHONE]" and got[5][1]
    assert got[6] == ("in 1995 2000 people saw 42 things; pi is 3.14159",
                      False)
    assert got[7] == (None, False)
    assert got[8] == ("clean text with no pii at all", False)

    # r5 review: ordinary numeric prose must survive — mixed dash
    # ranges, 5-component version quads, digit runs longer than any
    # phone shape (left WHOLE, not half-eaten with a glued marker),
    # and '+' directly after a digit
    hard = [
        (10, "ranges 10-20 30-40 50-60 70-80 done"),
        (11, "version 1.2.3.4.5 released"),
        (12, "call +44 20 79468 now"),
        (13, "see (020) 794612345 x"),
        (14, "price 2+33 44 55 total"),
    ]
    hdf = spark.createDataFrame(hard, "id long, text string")
    hout = {r.id: (r.text, r.pii_redacted)
            for r in redact_pii(hdf).collect()}
    for i, txt in hard:
        assert hout[i] == (txt, False), (i, hout[i])
    # the DOCUMENTED card false positive: four uniformly separated
    # 4-digit groups (year lists) are card-shaped — kinds= without
    # 'card' is the escape hatch
    ydf = spark.createDataFrame(
        [(20, "totals 2024 2025 2026 2027 rows")], "id long, text string"
    )
    assert redact_pii(ydf).first().text == "totals [CARD] rows"
    assert (
        redact_pii(ydf, kinds=("email", "ipv4", "ssn", "phone")).first().text
        == "totals 2024 2025 2026 2027 rows"
    )

    # kinds restriction: only emails touched
    out2 = redact_pii(df, kinds=("email",)).orderBy("id").collect()
    g2 = {r.id: r.text for r in out2}
    assert g2[1] == "mail me at [EMAIL] today"
    assert g2[4] == "ssn 123-45-6789 leaked"
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown"):
        redact_pii(df, kinds=("email", "dna"))
    with _pt.raises(TypeError, match="string"):
        redact_pii(df, kinds="email")
    with _pt.raises(ValueError, match="at least one"):
        redact_pii(df, kinds=())

    # out_col form + scale shape: pure JVM expressions, no Python
    plan = redact_pii(
        docs(spark, sf_dir), out_col="clean"
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_lang_id_runs(spark, sf_dir):
    out = lang_id(docs(spark, sf_dir).limit(50))
    assert out.filter(F.col("lang_pred").isNull()).count() == 0
    assert set(r.lang_pred for r in out.collect()) <= {"de", "en", "es", "fr", "zh"}


def test_cosine_topk_vs_numpy(spark, sf_dir):
    e = embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    got = cosine_topk(e, q, k=10).orderBy("rank").toPandas()
    pdf = e.toPandas()
    m = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    qv = m[pdf.vec_id.tolist().index(0)]
    sims = m @ qv / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-sims, pdf.vec_id))[:10]
    want = [int(v) for _, v in order]
    assert got.vec_id.tolist() == want
    assert got["rank"].tolist() == list(range(1, 11))


def test_lsh_ann_finds_near_neighbours(spark, sf_dir):
    """Sign-LSH guarantees collisions for genuinely close vectors
    (p = (1 - θ/π)^bits per probe), so plant near-duplicate queries:
    the planted source must be retrieved at rank 1 for most queries.
    (On *random* data the true top-k sits at ~70° where LSH buckets
    are uninformative — that path is covered by exact cosine_topk.)"""
    e = embs(spark, sf_dir)
    pdf = e.limit(20).toPandas()
    m = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    rng = np.random.default_rng(0)
    noisy = m + 0.01 * rng.standard_normal(m.shape)
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "q_id": pdf.vec_id.astype(int),
                "q_embedding": [row.astype(np.float32).tolist() for row in noisy],
            }
        )
    )
    approx = lsh_bucket_ann(e, q, k=1, bits=8, multiprobe=8).toPandas()
    found = {int(r.q_id): int(r.vec_id) for _, r in approx.iterrows()}
    hits = sum(1 for qid, vid in found.items() if qid == vid)
    assert hits >= 16, f"planted-neighbour recall too low: {hits}/20"


def test_near_dup_embeddings_exact(spark, sf_dir):
    e = embs(spark, sf_dir).limit(100)
    out = near_dup_embeddings(e, threshold=0.8, exact=True).toPandas()
    pdf = e.toPandas()
    m = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = norm @ norm.T
    ids = pdf.vec_id.to_numpy()
    want = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and sims[i, j] >= 0.8
    }
    got = {(r.id_a, r.id_b) for _, r in out.iterrows()}
    assert got == want
    # sim VALUES match numpy (guards cosine_similarity_col itself —
    # the embed_clusters oracle only checks component structure)
    for _, r in out.iterrows():
        i = pdf.vec_id.tolist().index(r.id_a)
        j = pdf.vec_id.tolist().index(r.id_b)
        assert abs(r.sim - sims[i, j]) < 1e-9, (r.id_a, r.id_b)


def test_ngram_jaccard_exact_vs_python(spark, sf_dir):
    """Exact n-gram Jaccard op vs a pure-python computation."""
    from geomesa_sql_spark.ops import ngram_jaccard_pairs
    from geomesa_sql_spark.ops.dedup import _shingles

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    rows = {r["doc_id"]: r["text"] for r in d.collect()}
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.0).collect()
    }
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa = set(_shingles(rows[a], 3).tolist())
            sb = set(_shingles(rows[b], 3).tolist())
            want = round(len(sa & sb) / len(sa | sb), 9) if (sa | sb) else 1.0
            assert got[(a, b)] == want


def test_lsh_recall_vs_exact_ngram(spark, sf_dir):
    """MinHash+LSH finds every pair the exact op finds at a threshold
    comfortably above the LSH s-curve knee."""
    from geomesa_sql_spark.ops import lsh_near_dup_pairs, ngram_jaccard_pairs
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    dup = d.withColumn("doc_id", F.col("doc_id") + 500000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" x"))
    )
    corpus = d.unionByName(dup)
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            corpus, "text", "doc_id", jaccard_threshold=0.8
        ).collect()
    }
    assert exact, "fixture must produce near-dup pairs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, recall


def test_bpe_token_count_vs_python_re(spark, sf_dir):
    import re

    from geomesa_sql_spark.ops.text import TOKEN_REGEX, bpe_ish_token_count

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    got = {
        r.doc_id: r.n
        for r in d.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n")).collect()
    }
    pat = re.compile(TOKEN_REGEX)
    for r in d.collect():
        assert got[r.doc_id] == len(pat.findall(r.text)), r.doc_id


def test_doc_fingerprints_cdc_property(spark, sf_dir):
    """Content-defined chunking: a prefix edit disturbs only the first
    chunk(s); fixed-stride blocking would shift every boundary."""
    from geomesa_sql_spark.ops import doc_fingerprints

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    edited = d.withColumn("text", F.concat(F.lit("edited prefix xyz "), F.col("text"))) \
              .withColumn("doc_id", F.col("doc_id") + 10_000)
    fp = doc_fingerprints(d.unionByName(edited), "text", "doc_id")
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.chunk_hash)
    shared_total = orig_total = 0
    for r in d.select("doc_id").collect():
        a = by_doc.get(r.doc_id, [])
        b = by_doc.get(r.doc_id + 10_000, [])
        if len(a) < 3:
            continue  # doc too short to have stable tail chunks
        shared_total += len(set(a) & set(b))
        orig_total += len(set(a))
    assert orig_total > 0
    # the tail chunks survive the prefix edit
    assert shared_total / orig_total > 0.6, (shared_total, orig_total)
    # determinism
    fp2 = doc_fingerprints(d, "text", "doc_id").collect()
    assert sorted((r.doc_id, r.chunk_idx, r.chunk_hash) for r in fp2) == sorted(
        (r.doc_id, r.chunk_idx, r.chunk_hash) for r in rows if r.doc_id < 10_000
    )


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from geomesa_sql_spark.ops import cosine_topk
    from geomesa_sql_spark.ops.ann import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    exact = cosine_topk(e, q, k=10)
    approx = ivf_topk(e, q, k=10, n_lists=8, nprobe=3)
    ex = {}
    for r in exact.collect():
        ex.setdefault(r.q_id, set()).add(r.vec_id)
    ap = {}
    for r in approx.collect():
        ap.setdefault(r.q_id, set()).add(r.vec_id)
    recalls = [len(ex[q_] & ap.get(q_, set())) / len(ex[q_]) for q_ in ex]
    assert sum(recalls) / len(recalls) >= 0.7, recalls
    # the probed query always finds itself (sim 1.0 at rank 1)
    top1 = {r.q_id: r.vec_id for r in approx.filter(F.col("rank") == 1).collect()}
    assert all(top1[q_] == q_ for q_ in top1)


def test_pq_topk_recall_vs_bruteforce(spark, sf_dir):
    """Product-quantization ANN: recall@10 vs exact brute force ≥ 0.7
    on the driver embeddings (same bar as the LSH/IVF paths); top-1
    recall should be high because of the exact rerank."""
    from pyspark.sql import functions as F

    from geomesa_sql_spark.ops import cosine_topk
    from geomesa_sql_spark.ops.ann import pq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    approx = pq_topk(e, q, k=10, m_sub=8, n_codes=64, rerank=60)
    got = {}
    for r in approx.collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
    hits = total = 0
    top1 = 0
    for qid in got:
        qdf = q.filter(F.col("q_id") == qid)
        exact = cosine_topk(e, qdf, k=10).collect()
        want = {r.vec_id for r in exact}
        best = min(exact, key=lambda r: r.rank).vec_id
        hits += len(got[qid] & want)
        total += len(want)
        approx_best = min(
            (r for r in approx.collect() if r.q_id == qid), key=lambda r: r.rank
        ).vec_id
        top1 += int(approx_best == best)
    assert hits / total >= 0.7, f"recall {hits / total:.2f}"
    assert top1 >= 4  # exact rerank recovers the true top-1 almost always


def test_pq_topk_string_ids(spark, sf_dir):
    """Review r2: pq_topk must carry the caller's id types (the engine's
    own images fixture uses string ids), not hardcode bigint."""
    from pyspark.sql import functions as F

    from geomesa_sql_spark.ops.ann import pq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "vec_id", F.concat(F.lit("#"), F.col("vec_id").cast("string"))
    )
    q = e.filter(F.col("vec_id") == "#0").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    out = pq_topk(e, q, k=5, m_sub=8, n_codes=16, rerank=40)
    rows = out.collect()
    assert len(rows) == 5 and all(r.vec_id.startswith("#") for r in rows)


# --------------------------------------------------------------- dbscan

def _brute_dbscan(ids, xs, ys, eps, min_pts):
    """O(n²) reference DBSCAN with the engine's deterministic label
    semantics: cluster = min core id of the component; border points
    take the MIN core-neighbor label."""
    import numpy as np

    n = len(ids)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    d2 = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2
    nb = d2 <= eps * eps
    np.fill_diagonal(nb, False)
    core = nb.sum(axis=1) + 1 >= min_pts

    # components over the core-core subgraph (BFS)
    lab = {}
    order = np.argsort(np.asarray(ids))
    for s in order:
        if not core[s] or ids[s] in lab:
            continue
        stack, members = [s], []
        seen = {s}
        while stack:
            u = stack.pop()
            members.append(u)
            for v in np.nonzero(nb[u] & core)[0]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        m = min(ids[u] for u in members)
        for u in members:
            lab[ids[u]] = m

    out = {}
    for u in range(n):
        if core[u]:
            out[ids[u]] = (lab[ids[u]], "core")
        else:
            cn = [lab[ids[v]] for v in np.nonzero(nb[u] & core)[0]]
            out[ids[u]] = (min(cn), "border") if cn else (-1, "noise")
    return out


def _dbscan_fixture_pts(n=400, seed=7):
    """Deterministic mixed layout: 4 dense blobs + uniform scatter."""
    import numpy as np

    from geomesa_sql_spark.io.fixtures import _splitmix64

    idx = np.arange(n, dtype=np.int64)
    h1 = _splitmix64(idx).astype(np.float64) / 2.0**64
    h2 = _splitmix64(idx + seed * 1_000_003).astype(np.float64) / 2.0**64
    blob = idx % 5
    cxs = np.array([0.0, 10.0, 0.0, 10.0, 0.0])
    cys = np.array([0.0, 0.0, 10.0, 10.0, 0.0])
    xs = np.where(blob < 4, cxs[blob] + (h1 * 2 - 1), h1 * 40 - 10)
    ys = np.where(blob < 4, cys[blob] + (h2 * 2 - 1), h2 * 40 - 10)
    return list(range(1, n + 1)), xs, ys


def test_dbscan_matches_bruteforce(spark):
    from geomesa_sql_spark.ops.cluster import dbscan

    ids, xs, ys = _dbscan_fixture_pts()
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(ids, xs, ys)],
        "id long, x double, y double",
    )
    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in dbscan(df, "id", "x", "y", eps=0.8, min_pts=25).collect()
    }
    want = _brute_dbscan(ids, xs, ys, 0.8, 25)
    assert got == want
    roles = {v[1] for v in got.values()}
    assert roles == {"core", "border", "noise"}  # fixture exercises all three


def test_dbscan_edge_cases(spark):
    from geomesa_sql_spark.ops.cluster import dbscan

    # empty input
    empty = spark.createDataFrame([], "id long, x double, y double")
    assert dbscan(empty, "id", "x", "y", eps=1.0, min_pts=2).count() == 0

    # min_pts=1: every point is core; two far singletons = two clusters
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 0.0)], "id long, x double, y double"
    )
    got = {r["id"]: (r["cluster"], r["role"])
           for r in dbscan(df, "id", "x", "y", eps=1.0, min_pts=1).collect()}
    assert got == {1: (1, "core"), 2: (2, "core")}

    # all noise; null coordinates dropped
    df2 = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 50.0, 0.0), (3, None, 1.0)],
        "id long, x double, y double",
    )
    got2 = {r["id"]: (r["cluster"], r["role"])
            for r in dbscan(df2, "id", "x", "y", eps=1.0, min_pts=3).collect()}
    assert got2 == {1: (-1, "noise"), 2: (-1, "noise")}


def test_dbscan_chain_component(spark):
    """A 12-point chain at eps spacing: one component via transitive
    connectivity (pointer jumping must close the whole chain)."""
    from geomesa_sql_spark.ops.cluster import dbscan

    rows = [(i, float(i) * 0.9, 0.0) for i in range(1, 13)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {r["id"]: (r["cluster"], r["role"])
           for r in dbscan(df, "id", "x", "y", eps=1.0, min_pts=3).collect()}
    # endpoints see only 2 points (|N|=2 < 3) -> border; min core id is 2
    assert {c for c, _ in got.values()} == {2}
    assert got[1][1] == "border" and got[12][1] == "border"
    assert all(got[i][1] == "core" for i in range(2, 12))


def test_dbscan_cross_partition_merge(spark):
    """Tiny coarse cells force every blob to span many partitions —
    halo replication + the label-equivalence merge must reproduce the
    single-partition answer exactly."""
    from geomesa_sql_spark.ops.cluster import dbscan

    ids, xs, ys = _dbscan_fixture_pts()
    df = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(ids, xs, ys)],
        "id long, x double, y double",
    )
    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in dbscan(
            df, "id", "x", "y", eps=0.8, min_pts=25, coarse_cell=1.6
        ).collect()
    }
    want = _brute_dbscan(ids, xs, ys, 0.8, 25)
    assert got == want


def test_embedding_clusters_vs_numpy(spark, sf_dir):
    """Cluster labels = min-id connected components of the exact
    cosine near-dup graph (numpy union-find twin)."""
    from geomesa_sql_spark.ops import embedding_clusters

    base = embs(spark, sf_dir).limit(120)
    # plant exact duplicates (cos=1) so non-singleton groups exist
    dup = base.filter(F.col("vec_id") % 9 == 0).withColumn(
        "vec_id", F.col("vec_id") + 700_000
    )
    e = base.unionByName(dup)
    got = {r.vec_id: r.cluster for r in
           embedding_clusters(e, threshold=0.45, exact=True).collect()}

    pdf = e.toPandas()
    m = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = norm @ norm.T
    ids = pdf.vec_id.to_numpy().astype(int)
    parent = {int(i): int(i) for i in ids}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if sims[i, j] >= 0.45:
                ra, rb = find(int(ids[i])), find(int(ids[j]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {int(i): find(int(i)) for i in ids}
    assert got == want
    assert any(k != v for k, v in got.items())  # non-singleton groups exist


# ------------------------------------------------------------- seq_pack

def _brute_pack(toks, budget):
    bins, offs, b, cur = [], [], 0, 0
    for t in toks:
        if cur and cur + t > budget:
            b += 1
            cur = 0
        bins.append(b)
        offs.append(cur)
        cur += t
        if cur > budget:  # oversize doc occupied its own bin
            b += 1
            cur = 0
    return bins, offs


def test_pack_sequences_vs_python(spark):
    from geomesa_sql_spark.ops.pack import pack_sequences

    toks = [10, 20, 30, 99, 5, 5, 5, 64, 1, 63, 2, 40, 25]
    rows = [(i + 1, int(t), int(i % 2)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "id long, tok long, shard long")
    got = {
        r.id: (r.shard, r.bin, r.off)
        for r in pack_sequences(df, "id", "tok", budget=64, shard_col="shard").collect()
    }
    for s in (0, 1):
        ids = [i + 1 for i in range(len(toks)) if i % 2 == s]
        st = [toks[i - 1] for i in ids]
        bins, offs = _brute_pack(st, 64)
        for k, i in enumerate(ids):
            assert got[i] == (s, bins[k], offs[k]), (i, got[i], (s, bins[k], offs[k]))


def test_pack_sequences_invariants(spark, sf_dir):
    """Bin sums never exceed budget except single-oversize-doc bins;
    offsets are the prefix sums within each bin."""
    from geomesa_sql_spark.ops.pack import pack_sequences

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = F.expr("length(text) - length(replace(text, ' ', '')) + 1")
    out = pack_sequences(d, "doc_id", tok, budget=64,
                         shard_col=F.expr("doc_id % 4"))
    joined = out.join(
        d.select(F.col("doc_id").alias("id"), tok.cast("long").alias("tok")), "id"
    )
    per_bin = joined.groupBy("shard", "bin").agg(
        F.sum("tok").alias("total"), F.count("*").alias("n")
    )
    bad = per_bin.filter((F.col("total") > 64) & (F.col("n") > 1)).count()
    assert bad == 0
    # offset = running sum of predecessors within the bin
    from pyspark.sql import Window
    w = Window.partitionBy("shard", "bin").orderBy("id")
    chk = joined.withColumn(
        "want_off", F.coalesce(F.sum("tok").over(w) - F.col("tok"), F.lit(0))
    )
    assert chk.filter(F.col("off") != F.col("want_off")).count() == 0


# ------------------------------------------------- hamming / image near-dup

def test_hamming_near_dup_exact_vs_bruteforce(spark):
    """The pigeonhole band join is EXACT: pair set == O(n²) brute force
    at every radius, including planted flips just inside/outside."""
    from geomesa_sql_spark.io.fixtures import _splitmix64
    from geomesa_sql_spark.ops import hamming_near_dup_pairs

    base = _splitmix64(np.arange(60, dtype=np.int64)).view(np.int64)
    sigs = list(base)
    # plant neighbours at hamming 1..8 of sig[k]
    for k, d in enumerate(range(1, 9)):
        v = np.uint64(base[k].view(np.uint64))
        for bit in range(d):
            v ^= np.uint64(1) << np.uint64(bit * 7)
        sigs.append(np.int64(v.view(np.int64)))
    rows = [(i, int(s)) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "id long, sig long")

    for t in (2, 6):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_dup_pairs(df, "sig", "id", max_hamming=t).collect()
        }
        want = set()
        for i in range(len(sigs)):
            for j in range(i + 1, len(sigs)):
                h = bin((int(sigs[i]) ^ int(sigs[j])) & 0xFFFFFFFFFFFFFFFF).count("1")
                if h <= t:
                    want.add((i, j, h))
        assert got == want, f"radius {t}"
        assert want, "fixture must plant in-radius pairs"


def test_near_dup_images_finds_planted_dups(spark):
    """Exact byte-duplicates hash to hamming 0; the null-payload row is
    excluded rather than crashing the decode stage."""
    from geomesa_sql_spark.io.fixtures import images_table
    from geomesa_sql_spark.ops import near_dup_images

    imgs = images_table(spark, 40, size=16)
    picked = F.substring(F.col("image_id"), 2, 10).cast("long") % 4 == 0
    dup = imgs.filter(picked).withColumn(
        "image_id", F.concat(F.lit("dup_"), F.col("image_id"))
    )
    nulls = imgs.limit(1).withColumn("bytes", F.lit(None).cast("binary"))
    corpus = imgs.unionByName(dup).unionByName(
        nulls.withColumn("image_id", F.lit("null_row"))
    )
    pairs = near_dup_images(corpus, max_hamming=0).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    planted = {
        tuple(sorted((str(r.image_id), f"dup_{r.image_id}")))
        for r in imgs.filter(picked).select("image_id").collect()
    }
    assert planted <= got
    assert all("null_row" not in p for p in got)


def test_hamming_clusters_vs_bruteforce(spark):
    """Groups = CC over the hamming graph; identical signatures share
    a node, so heavy exact-dup groups stay linear (the pair op would
    be quadratic in them)."""
    from geomesa_sql_spark.io.fixtures import _splitmix64
    from geomesa_sql_spark.ops import hamming_clusters

    base = _splitmix64(np.arange(12, dtype=np.int64)).view(np.int64)
    rows = []
    rid = 0
    for k, s in enumerate(base):
        for _ in range(1 + (k % 4) * 5):  # exact-dup groups up to 16 rows
            rows.append((rid, int(s)))
            rid += 1
    # one near pair: flip 2 bits of base[0]
    near = int(np.int64(np.uint64(base[0].view(np.uint64)) ^ np.uint64(3)))
    rows.append((rid, near))
    df = spark.createDataFrame(rows, "id long, sig long")
    got = {r.id: r.cluster for r in
           hamming_clusters(df, "sig", "id", max_hamming=6).collect()}

    # brute force: union-find over all row pairs with hamming <= 6
    parent = {i: i for i, _ in rows}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, si in rows:
        for j, sj in rows:
            if i < j and bin((si ^ sj) & 0xFFFFFFFFFFFFFFFF).count("1") <= 6:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i, _ in rows}
    assert got == want
    assert len(set(got.values())) < len(rows)  # real groups formed


def test_pack_sequences_null_and_negative_tokens_dropped(spark):
    """NULL/negative token counts are filtered, not allowed to corrupt
    the shard's cumsum (NaN->int64 yields INT64_MIN)."""
    from geomesa_sql_spark.ops.pack import pack_sequences

    rows = [(1, 10), (2, 20), (3, None), (4, 30), (5, -7), (6, 0)]
    df = spark.createDataFrame(rows, "id long, tok long")
    got = {r.id: (r.bin, r.off) for r in
           pack_sequences(df, "id", "tok", budget=64).collect()}
    assert got == {1: (0, 0), 2: (0, 10), 4: (0, 30)}


def test_dbscan_rejects_non_numeric_key(spark):
    import pytest as _pytest

    from geomesa_sql_spark.ops.cluster import dbscan

    df = spark.createDataFrame([("#1", 0.0, 0.0)], "id string, x double, y double")
    with _pytest.raises(TypeError, match="integral"):
        dbscan(df, "id", "x", "y", eps=1.0, min_pts=2)


# ------------------------------------------------------------ hash_split

def test_splitmix64_col_matches_numpy(spark):
    from geomesa_sql_spark.io.fixtures import _splitmix64
    from geomesa_sql_spark.ops import with_splitmix64

    ids = list(range(-500, 500)) + [2**62, -(2**62), 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r.id: r.h for r in
           with_splitmix64(df, "id", "h").select("id", "h").collect()}
    want = _splitmix64(np.array(ids, dtype=np.int64).view(np.uint64).astype(np.uint64))
    want = dict(zip(ids, want.astype(np.int64).tolist()))
    assert got == want


def test_hash_split_deterministic_and_consistent(spark):
    from geomesa_sql_spark.ops import hash_split

    df = spark.range(6000).withColumnRenamed("id", "k")
    fr = {"val": 0.01, "test": 0.02, "train": 0.97}
    a = {r.k: r.split for r in hash_split(df, "k", fr).collect()}
    b = {r.k: r.split for r in
         hash_split(df.repartition(7), "k", fr).collect()}
    assert a == b  # partitioning-order independent (unlike randomSplit)

    from collections import Counter
    c = Counter(a.values())
    assert abs(c["val"] / 6000 - 0.01) < 0.007
    assert abs(c["test"] / 6000 - 0.02) < 0.01
    assert c["train"] / 6000 > 0.94

    # consistent-split: growing the FIRST fraction keeps its members
    grown = {r.k: r.split for r in
             hash_split(df, "k", {"val": 0.03, "test": 0.02, "train": 0.95}).collect()}
    assert all(grown[k] == "val" for k, v in a.items() if v == "val")

    # different salt re-deals
    s2 = {r.k: r.split for r in hash_split(df, "k", fr, salt=99).collect()}
    assert s2 != a


def test_hash_split_validates_fractions(spark):
    import pytest as _pytest

    from geomesa_sql_spark.ops import hash_split

    df = spark.range(5)
    with _pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "id", {"a": 0.5, "b": 0.6})


def test_embedding_clusters_lsh_path_runs(spark, sf_dir):
    """The sign-LSH clusters path (the 100 TB route) produces valid
    labels: every planted exact duplicate lands in its source's
    cluster (cos=1 pairs always share every LSH bucket)."""
    from geomesa_sql_spark.ops import embedding_clusters

    base = embs(spark, sf_dir).limit(60)
    dup = base.filter(F.col("vec_id") % 6 == 0).withColumn(
        "vec_id", F.col("vec_id") + 900_000
    )
    got = {r.vec_id: r.cluster for r in embedding_clusters(
        base.unionByName(dup), threshold=0.99, exact=False
    ).collect()}
    for r in base.filter(F.col("vec_id") % 6 == 0).select("vec_id").collect():
        assert got[r.vec_id + 900_000] == got[r.vec_id]


def test_hash_sample_nested_and_stable(spark):
    from geomesa_sql_spark.ops.split import hash_sample

    df = spark.range(8000).withColumnRenamed("id", "k")
    s10 = {r.k for r in hash_sample(df, "k", 0.10).collect()}
    s01 = {r.k for r in hash_sample(df, "k", 0.01).collect()}
    assert s01 <= s10  # nested samples
    assert abs(len(s10) / 8000 - 0.10) < 0.02
    s10b = {r.k for r in hash_sample(df.repartition(5), "k", 0.10).collect()}
    assert s10 == s10b  # stable under repartition


def test_dedup_keep_best(spark):
    from geomesa_sql_spark.ops.dedup import dedup_keep_best

    rows = [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.1), (99, 0.0)]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "doc_id long, cluster long"
    )
    kept = sorted(r.doc_id for r in
                  dedup_keep_best(df, clusters, "doc_id", "q").collect())
    # cluster 1: 2 and 3 tie at 0.9 -> min id 2; cluster 10: 10; 99 unlabelled
    assert kept == [2, 10, 99]


def _cell_kernel_oracle(pdf, eps, s, min_pts):
    """Brute-force twin of cluster._local_cluster for one cell: exact
    core flags of the eps-inner points, components over their core
    edges (label = min id), and each own non-core point's distinct
    core-neighbour labels (noise when none)."""
    if not len(pdf):
        return []
    ids = pdf["id"].to_numpy()
    xs, ys = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    own = pdf["own"].to_numpy()
    cx, cy = int(pdf["ccx"].iloc[0]), int(pdf["ccy"].iloc[0])
    inner = np.ones(len(ids), dtype=bool)
    for v, c in ((xs, cx), (ys, cy)):
        inner &= (np.floor((v - eps) / s) <= c) & (c <= np.floor((v + eps) / s))
    nb = (xs[:, None] - xs[None, :]) ** 2 + (ys[:, None] - ys[None, :]) ** 2 <= eps * eps
    core = inner & (nb.sum(axis=1) >= min_pts)
    lab = {}
    for u in np.flatnonzero(core):
        if u in lab:
            continue
        comp, stack = {u}, [u]
        while stack:
            for v in np.flatnonzero(nb[stack.pop()] & core):
                if v not in comp:
                    comp.add(v)
                    stack.append(v)
        m = min(ids[v] for v in comp)
        lab.update({v: m for v in comp})
    rows = [(ids[u], "corelab", lab[u], bool(own[u])) for u in lab]
    for u in np.flatnonzero(own & ~core):
        labs = sorted({lab[v] for v in np.flatnonzero(nb[u] & core)})
        rows += [(ids[u], "border", v, True) for v in labs] or [(ids[u], "noise", -1, True)]
    return sorted((int(i), k, int(la), o) for i, k, la, o in rows)


def test_dbscan_local_kernel_matches_bruteforce_cells():
    """The per-cell kernel on random cells (the cell region plus its
    2·eps replication band), including cells with fewer than min_pts
    points — which return their own points as noise without probing
    distances — and dense ones that take the all-core fine-cell path."""
    from geomesa_sql_spark.ops.cluster import _local_cluster

    rng = np.random.default_rng(11)
    eps, s = 1.0, 4.0
    for trial in range(60):
        min_pts = int(rng.integers(1, 7))
        n = int(rng.integers(0, 3 * min_pts)) if trial % 3 else int(rng.integers(0, min_pts))
        xy = rng.uniform(-2 * eps, s + 2 * eps, (n, 2))
        if trial % 4 == 0 and n:
            xy[: n // 2] = rng.normal(s / 2, 0.2, (n // 2, 2))  # dense blob
        pdf = pd.DataFrame({
            "id": rng.permutation(1000)[:n].astype(np.int64),
            "x": xy[:, 0], "y": xy[:, 1],
            "ccx": np.zeros(n, dtype=np.int64), "ccy": np.zeros(n, dtype=np.int64),
            "own": np.all((xy >= 0) & (xy < s), axis=1),
        })
        got = _local_cluster(pdf, eps, s, min_pts)
        assert sorted(
            (int(r.id), r.kind, int(r.lab), bool(r.own)) for r in got.itertuples()
        ) == _cell_kernel_oracle(pdf, eps, s, min_pts), (trial, n, min_pts)
        if n < min_pts:
            assert set(got["kind"]) <= {"noise"} and len(got) == int(pdf["own"].sum())


def test_dbscan_incremental_fallbacks_counted(spark, monkeypatch):
    """Every path where dbscan_incremental rebuilds (or reassembles
    every point) instead of applying its delta is counted once per call
    under its reason, and still equals a from-scratch rebuild."""
    from geomesa_sql_spark.ops import cluster as C

    schema = "id long, x double, y double"

    def blob(start_id, cx, cy, n=24):
        return [(start_id + k, cx + 0.05 * (k % 6), cy + 0.05 * (k // 6))
                for k in range(n)]

    kw = dict(key="id", x="x", y="y", eps=0.8, min_pts=3, coarse_cell=1.6)
    # the chain spans many coarse cells, so its cells see different
    # local components: the state carries equivalence edges
    chain = [(500 + k, 0.3 + 0.7 * k, 0.0) for k in range(20)]
    base_rows = blob(0, 0.0, 0.0) + blob(100, 50.0, 0.0) + chain
    base = spark.createDataFrame(base_rows, schema)
    _, st = C.dbscan(base, return_state=True, **kw)
    assert st["eq"].count() > 0
    spray = [(300 + k, 1.6 * k - 1.0, 0.0) for k in range(16)]
    spray += [(400 + k, 50.0 + 1.6 * (k % 2), 1.6 * (k // 2)) for k in range(4)]
    cases = {
        "home_cells": ("_DRIVER_CELLS_MAX", 0, blob(200, 0.5, 0.5)),
        "slice_rows": ("_DRIVER_SLICE_MAX", 0, blob(200, 0.5, 0.5)),
        "eq_edges": ("_DRIVER_MERGE_MAX", 0, blob(200, 0.5, 0.5)),
        "affected_ids": ("_AFFECTED_BROADCAST_MAX", 0, blob(200, 0.5, 0.5)),
        "dirty_covers_all": (None, None, spray),
    }
    for reason, (cap, value, delta_rows) in cases.items():
        with monkeypatch.context() as m:
            if cap is not None:
                m.setattr(C, cap, value)
            full = spark.createDataFrame(base_rows + delta_rows, schema)
            delta = spark.createDataFrame(delta_rows, schema)
            C.incremental_fallbacks.clear()
            res, st2 = C.dbscan_incremental(full, delta, st, **kw)
            assert dict(C.incremental_fallbacks) == {reason: 1}, reason
        got = sorted(map(tuple, res.collect()))
        assert got == sorted(map(tuple, C.dbscan(full, **kw).collect())), reason
        assert sorted(map(tuple, st2["delta"].collect())) == got, reason
    C.incremental_fallbacks.clear()
    full = spark.createDataFrame(base_rows + blob(200, 0.5, 0.5), schema)
    C.dbscan_incremental(full, spark.createDataFrame(blob(200, 0.5, 0.5), schema), st, **kw)
    assert not C.incremental_fallbacks


def test_dbscan_incremental_relabel_collect_cap(spark, monkeypatch):
    """A one-point bridge merges two chains, so every point of one
    chain is relabelled far from the dirty cells. Its core points carry
    the changed label in several replica cells: the relabel collect
    holds more rows than there are affected ids. With the cap at the
    affected-id count that collect hits its limit, and the step must
    reassemble every point instead of upserting a truncated id set."""
    from geomesa_sql_spark.ops import cluster as C

    schema = "id long, x double, y double"
    kw = dict(key="id", x="x", y="y", eps=0.8, min_pts=3, coarse_cell=1.6)
    base_rows = [(k, 0.5 * k, 0.0) for k in range(40)]
    base_rows += [(1000 + k, 20.5 + 0.5 * k, 0.0) for k in range(40)]
    bridge = [(5000, 19.75, 0.0)]
    _, st = C.dbscan(spark.createDataFrame(base_rows, schema), return_state=True, **kw)
    full = spark.createDataFrame(base_rows + bridge, schema)
    delta = spark.createDataFrame(bridge, schema)
    C.incremental_fallbacks.clear()
    _, st_upsert = C.dbscan_incremental(full, delta, st, **kw)
    assert not C.incremental_fallbacks
    n_affected = st_upsert["delta"].count()  # append-only: every affected id
    want = sorted(map(tuple, C.dbscan(full, **kw).collect()))
    with monkeypatch.context() as m:
        m.setattr(C, "_AFFECTED_BROADCAST_MAX", n_affected)
        res, st2 = C.dbscan_incremental(full, delta, st, **kw)
    assert dict(C.incremental_fallbacks) == {"affected_ids": 1}
    C.incremental_fallbacks.clear()
    assert sorted(map(tuple, res.collect())) == want
    assert sorted(map(tuple, st2["delta"].collect())) == want


def test_dbscan_incremental_equals_full_rebuild(spark):
    """Append-delta maintenance ≡ full rebuild, including deltas that
    BRIDGE two previously separate clusters (the global re-merge must
    relabel untouched far-away cells through the label graph)."""
    from geomesa_sql_spark.ops.cluster import dbscan, dbscan_incremental

    ids, xs, ys = _dbscan_fixture_pts()
    rows = [(int(i), float(x), float(y)) for i, x, y in zip(ids, xs, ys)]
    # delta: a bridge of points connecting blob (0,0) to blob (10,0),
    # plus a few new scatter points
    bridge = [(10_000 + k, 1.0 + k * 0.7, 0.0) for k in range(13)]
    scatter = [(20_000 + k, -8.0 + k, -8.0) for k in range(3)]
    delta_rows = bridge + scatter

    schema = "id long, x double, y double"
    base = spark.createDataFrame(rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    full = base.unionByName(delta)

    for cc, mp in ((None, 25), (1.6, 25), (1.6, 3)):
        # mp=3 makes the bridge chain CORE: the two blobs merge into
        # one component and every point of the far blob — in cells the
        # delta never touched — must come back relabeled
        _, state = dbscan(
            base, "id", "x", "y", eps=0.8, min_pts=mp,
            coarse_cell=cc, return_state=True,
        )
        inc, _ = dbscan_incremental(
            full, delta, state, "id", "x", "y", eps=0.8, min_pts=mp,
            coarse_cell=cc,
        )
        want_df = dbscan(full, "id", "x", "y", eps=0.8, min_pts=mp,
                         coarse_cell=cc)
        got = {r.id: (r.cluster, r.role) for r in inc.collect()}
        want = {r.id: (r.cluster, r.role) for r in want_df.collect()}
        assert got == want, f"coarse_cell={cc} min_pts={mp}"
        if mp == 3:
            # prove the merge actually happened: blob around (0,0) and
            # blob around (10,0) share one label in the incremental run
            base_pts = {i: (x, y) for i, x, y in rows}
            lab_a = {got[i][0] for i, (x, y) in base_pts.items()
                     if abs(x) <= 1 and abs(y) <= 1 and got[i][0] >= 0}
            lab_b = {got[i][0] for i, (x, y) in base_pts.items()
                     if abs(x - 10) <= 1 and abs(y) <= 1 and got[i][0] >= 0}
            assert lab_a and lab_a == lab_b


def test_dbscan_incremental_removals_moves_mixed(spark):
    """Delta maintenance handles REMOVALS and MOVES, not just appends:
    the dirty-cell argument is symmetric (a removed point's influence
    is confined to the same ring of cells around its home), so passing
    the removed/old rows as the delta and the post-change table as
    df_all equals a full rebuild — chained across a cluster-splitting
    removal, a moved bridge point, a whole-cluster deletion, and a
    mixed remove+append batch."""
    import numpy as np

    from geomesa_sql_spark.ops.cluster import dbscan, dbscan_incremental

    schema = "id long, x double, y double"

    def mk(ids, xs, ys):
        return spark.createDataFrame(
            [(int(i), float(a), float(b)) for i, a, b in zip(ids, xs, ys)],
            schema,
        )

    def rows(df):
        return {(r.id, r.cluster, r.role) for r in df.collect()}

    rng = np.random.default_rng(5)
    a = rng.uniform(0, 1, (8, 2))
    b = rng.uniform(0, 1, (8, 2)) + [5.0, 0.0]
    bridge = np.array(
        [[1.8, 0.5], [2.5, 0.5], [3.2, 0.5], [3.9, 0.5], [4.6, 0.5]]
    )
    pts = np.vstack([a, b, bridge])
    ids = np.arange(len(pts))
    _, st = dbscan(
        mk(ids, pts[:, 0], pts[:, 1]), "id", "x", "y",
        eps=1.0, min_pts=3, return_state=True,
    )

    # 1. remove the middle bridge point → the one cluster splits in two
    keep = np.setdiff1d(ids, [18])
    after = mk(keep, pts[keep, 0], pts[keep, 1])
    delta = mk([18], pts[[18], 0], pts[[18], 1])
    inc, st = dbscan_incremental(
        after, delta, st, "id", "x", "y", eps=1.0, min_pts=3
    )
    got = rows(inc)
    assert got == rows(dbscan(after, "id", "x", "y", eps=1.0, min_pts=3))
    assert 18 not in {i for (i, _, _) in got}
    assert len({c for (_, c, _) in got if c >= 0}) == 2

    # 2. move bridge point 17 far away: delta = its old AND new rows
    moved = pts.copy()
    moved[17] = [50.0, 50.0]
    after2 = mk(keep, moved[keep, 0], moved[keep, 1])
    delta2 = spark.createDataFrame(
        [(17, float(pts[17, 0]), float(pts[17, 1])), (17, 50.0, 50.0)],
        schema,
    )
    inc2, st = dbscan_incremental(
        after2, delta2, st, "id", "x", "y", eps=1.0, min_pts=3
    )
    assert rows(inc2) == rows(
        dbscan(after2, "id", "x", "y", eps=1.0, min_pts=3)
    )

    # 3. delete blob b entirely
    keep3 = np.setdiff1d(keep, np.arange(8, 16))
    after3 = mk(keep3, moved[keep3, 0], moved[keep3, 1])
    delta3 = mk(np.arange(8, 16), moved[8:16, 0], moved[8:16, 1])
    inc3, st = dbscan_incremental(
        after3, delta3, st, "id", "x", "y", eps=1.0, min_pts=3
    )
    got3 = rows(inc3)
    assert got3 == rows(dbscan(after3, "id", "x", "y", eps=1.0, min_pts=3))
    assert not ({i for (i, _, _) in got3} & set(range(8, 16)))

    # 4. mixed batch: remove two of blob a (demoting cores) + append 3
    keep4 = np.setdiff1d(keep3, [0, 1])
    new_ids = [100, 101, 102]
    new_xy = [(0.5, 0.45), (0.55, 0.5), (10.0, 10.0)]
    after4 = mk(
        list(keep4) + new_ids,
        list(moved[keep4, 0]) + [p[0] for p in new_xy],
        list(moved[keep4, 1]) + [p[1] for p in new_xy],
    )
    delta4 = mk(
        [0, 1] + new_ids,
        list(pts[[0, 1], 0]) + [p[0] for p in new_xy],
        list(pts[[0, 1], 1]) + [p[1] for p in new_xy],
    )
    inc4, st = dbscan_incremental(
        after4, delta4, st, "id", "x", "y", eps=1.0, min_pts=3
    )
    assert rows(inc4) == rows(
        dbscan(after4, "id", "x", "y", eps=1.0, min_pts=3)
    )


def test_near_dup_embeddings_lsh_multiband_recall(spark, sf_dir):
    """Multi-band OR-construction recall on planted noisy duplicates:
    a single 8-bit band misses ~30% of cos≈0.99 pairs; 4 bands get
    (≈0.3)^4 ≈ 1% misses — assert ≥ 0.9 recall."""
    from geomesa_sql_spark.ops import near_dup_embeddings

    base = embs(spark, sf_dir).limit(80).toPandas()
    m = np.stack(base.embedding.to_numpy()).astype(np.float64)
    rng = np.random.default_rng(3)
    noisy = m + 0.01 * rng.standard_normal(m.shape)
    rows = [
        (int(v), e.astype(np.float32).tolist())
        for v, e in zip(base.vec_id, m)
    ] + [
        (int(v) + 800_000, e.astype(np.float32).tolist())
        for v, e in zip(base.vec_id, noisy)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    got = {
        (r.id_a, r.id_b)
        for r in near_dup_embeddings(df, threshold=0.99, exact=False).collect()
    }
    want = {(int(v), int(v) + 800_000) for v in base.vec_id}
    recall = len(want & got) / len(want)
    assert recall >= 0.9, recall


def test_distributed_cc_fallback_matches_unionfind(spark):
    """_connected_components (the distributed pointer-jumping loop —
    the >cap fallback of min_label_components, which small test graphs
    never reach) against a union-find twin: chain, star, two
    components, and singletons."""
    from geomesa_sql_spark.ops.cluster import _connected_components

    edges_py = (
        [(i, i + 1) for i in range(1, 40)]          # long chain 1..40
        + [(100, j) for j in range(101, 110)]        # star at 100
        + [(200, 201), (201, 202), (203, 204)]       # two small comps
    )
    nodes = sorted({n for e in edges_py for n in e} | {999})  # + singleton
    seeds = spark.createDataFrame([(n,) for n in nodes], "id long")
    sym = edges_py + [(b, a) for a, b in edges_py]
    edges = spark.createDataFrame(sym, "i long, j long")
    got = {r.id: r.lab for r in
           _connected_components(seeds, edges, max_iter=25).collect()}

    parent = {n: n for n in nodes}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges_py:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in nodes}
    assert got == want


def test_min_labels_matches_unionfind():
    """The vectorised driver components (_min_labels) against the
    scalar union-find on random multigraphs (self-loops, negative ids)
    and on the shapes that need the most hook rounds: chains in
    ascending, descending and shuffled id order, and a star whose hub
    is the largest id."""
    from geomesa_sql_spark.ops.cluster import _UF, _min_labels

    def twin(i, j):
        nodes, inv = np.unique(np.concatenate([i, j]), return_inverse=True)
        uf = _UF(len(nodes))
        for a, b in zip(inv[: len(i)].tolist(), inv[len(i):].tolist()):
            uf.union(a, b)
        return nodes, nodes[[uf.find(k) for k in range(len(nodes))]]

    rng = np.random.default_rng(11)
    cases = [(rng.integers(-40, 300, e) * 7, rng.integers(-40, 300, e) * 7)
             for e in rng.integers(1, 500, 150)]
    perm = rng.permutation(3000)
    cases += [(np.arange(1, 3000), np.arange(2999)),
              (np.arange(2999, 0, -1), np.arange(2998, -1, -1)),
              (perm[:-1], perm[1:]),
              (np.full(2000, 10_000), np.arange(2000))]
    for i, j in cases:
        got, want = _min_labels(i, j), twin(i, j)
        assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])


#: Spark jobs of the distributed connected-components loop (driver cap
#: forced down) on a 20-node chain plus one pair, collect included:
#: 69 measured — an eager checkpoint (several shuffles) and a change
#: probe per pointer-jumping round
CC_DISTRIBUTED_JOBS = 72


def test_min_label_components_cap_switch(spark, monkeypatch):
    """Above the driver cap min_label_components must switch to the
    distributed loop and produce identical labels."""
    from geomesa_sql_spark.ops import cluster as C

    edges_py = [(i, i + 1) for i in range(1, 20)] + [(50, 51)]
    seeds = spark.createDataFrame(
        [(n,) for n in sorted({x for e in edges_py for x in e})], "id long"
    )
    edges = spark.createDataFrame(edges_py, "i long, j long")
    via_driver = {r.id: r.lab for r in
                  C.min_label_components(seeds, edges).collect()}
    monkeypatch.setattr(C, "_DRIVER_MERGE_MAX", 3)  # force fallback
    sc = spark.sparkContext
    sc.setJobGroup("cc_distributed", "probe")
    try:
        via_dist = {r.id: r.lab for r in
                    C.min_label_components(seeds, edges).collect()}
    finally:
        sc.setJobGroup(None, None)
    assert via_driver == via_dist
    assert via_driver[20] == 1 and via_driver[51] == 50
    jobs = len(sc.statusTracker().getJobIdsForGroup("cc_distributed"))
    assert 0 < jobs <= CC_DISTRIBUTED_JOBS, jobs


def test_connected_components_unconverged_warns_and_counts(
        spark, monkeypatch, caplog):
    """A distributed components loop stopped by ``max_iter`` before its
    labels settle returns partial labels: it logs a warning and counts
    the stop. A converged run does neither."""
    import logging

    from geomesa_sql_spark.ops import cluster as C

    edges_py = [(i, i + 1) for i in range(1, 20)]
    seeds = spark.createDataFrame([(n,) for n in range(1, 21)], "id long")
    edges = spark.createDataFrame(edges_py, "i long, j long")
    monkeypatch.setattr(C, "_DRIVER_MERGE_MAX", 3)  # force the loop
    C.cc_unconverged.clear()
    with caplog.at_level(logging.WARNING, logger=C.__name__):
        partial = C.min_label_components(seeds, edges, max_iter=1).collect()
    assert len({r.lab for r in partial}) > 1  # one component, many labels
    assert dict(C.cc_unconverged) == {"max_iter": 1}
    assert any("did not converge in max_iter=1" in r.getMessage()
               for r in caplog.records)
    C.cc_unconverged.clear()
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=C.__name__):
        full = C.min_label_components(seeds, edges).collect()
    assert {r.lab for r in full} == {1}
    assert not C.cc_unconverged and not caplog.records


def test_dbscan_incremental_chained_batches(spark):
    """r3: state dict flows through SEVERAL incremental steps; the
    delta-proportional assembly (edge swap + resolution-map diff +
    affected-only reassembly) must keep every step byte-equal to the
    full rebuild — including a LATE bridge merging clusters formed in
    different earlier batches, which relabels untouched cells."""
    from geomesa_sql_spark.ops.cluster import dbscan, dbscan_incremental

    schema = "id long, x double, y double"

    def blob(start_id, cx, cy, n=30):
        return [
            (start_id + k, cx + 0.05 * (k % 6), cy + 0.05 * (k // 6))
            for k in range(n)
        ]

    base_rows = blob(0, 0.0, 0.0) + blob(100, 20.0, 0.0)
    batches = [
        blob(200, 40.0, 0.0),                                   # new far blob
        [(300 + k, 0.3 + k * 0.7, 0.0) for k in range(29)],     # bridge 0<->20
        [(400 + k, 20.3 + k * 0.7, 0.0) for k in range(29)],    # bridge 20<->40
    ]
    base = spark.createDataFrame(base_rows, schema)
    _, state = dbscan(
        base, "id", "x", "y", eps=0.8, min_pts=3, coarse_cell=1.6,
        return_state=True,
    )
    acc = list(base_rows)
    for bi, b in enumerate(batches):
        acc = acc + b
        full = spark.createDataFrame(acc, schema)
        delta = spark.createDataFrame(b, schema)
        inc, state = dbscan_incremental(
            full, delta, state, "id", "x", "y", eps=0.8, min_pts=3,
            coarse_cell=1.6,
        )
        want_df = dbscan(full, "id", "x", "y", eps=0.8, min_pts=3,
                         coarse_cell=1.6)
        got = {r.id: (r.cluster, r.role) for r in inc.collect()}
        want = {r.id: (r.cluster, r.role) for r in want_df.collect()}
        assert got == want, f"batch {bi}"
    # after the last batch everything is ONE cluster labelled 0
    assert {c for c, _ in got.values() if c >= 0} == {0}


def test_dbscan_incremental_delta_output_upserts_to_result(spark):
    """r3: state['delta'] is a valid per-batch UPSERT — applying it on
    id to the previous result reproduces the new result exactly, and
    it stays O(affected): far-away untouched points never appear."""
    from geomesa_sql_spark.ops.cluster import dbscan, dbscan_incremental

    schema = "id long, x double, y double"

    def blob(start_id, cx, cy, n=24):
        return [(start_id + k, cx + 0.05 * (k % 6), cy + 0.05 * (k // 6))
                for k in range(n)]

    base_rows = blob(0, 0.0, 0.0) + blob(100, 50.0, 0.0)
    delta_rows = blob(200, 0.5, 0.5)  # touches only the first blob
    base = spark.createDataFrame(base_rows, schema)
    full = spark.createDataFrame(base_rows + delta_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)

    prev, state = dbscan(base, "id", "x", "y", eps=0.8, min_pts=3,
                         coarse_cell=1.6, return_state=True)
    res, st2 = dbscan_incremental(full, delta, state, "id", "x", "y",
                                  eps=0.8, min_pts=3, coarse_cell=1.6)
    d = st2["delta"]
    # upsert semantics: prev minus delta-ids, union delta == new result
    merged = prev.join(d.select("id"), "id", "left_anti").unionByName(d)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, res.collect())
    )
    # O(affected): the far blob (ids 100..123) is untouched by this
    # delta and must not ride the upsert
    far = {r.id for r in d.collect() if 100 <= r.id < 200}
    assert far == set()


def test_dbscan_incremental_rebuild_fallback(spark, monkeypatch):
    """r3: with the affected-id broadcast cap forced to 0, every batch
    reassembles every point from the new `local` rows instead of
    upserting the affected ones into the previous result — results
    must stay byte-equal to a from-scratch rebuild."""
    from geomesa_sql_spark.ops import cluster as C

    monkeypatch.setattr(C, "_AFFECTED_BROADCAST_MAX", 0)
    schema = "id long, x double, y double"

    def blob(start_id, cx, cy, n=24):
        return [(start_id + k, cx + 0.05 * (k % 6), cy + 0.05 * (k // 6))
                for k in range(n)]

    base_rows = blob(0, 0.0, 0.0)
    delta_rows = blob(200, 0.5, 0.5)
    base = spark.createDataFrame(base_rows, schema)
    full = spark.createDataFrame(base_rows + delta_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    _, st = C.dbscan(base, "id", "x", "y", eps=0.8, min_pts=3,
                     coarse_cell=1.6, return_state=True)
    res, st2 = C.dbscan_incremental(full, delta, st, "id", "x", "y",
                                    eps=0.8, min_pts=3, coarse_cell=1.6)
    want = C.dbscan(full, "id", "x", "y", eps=0.8, min_pts=3, coarse_cell=1.6)
    got = {r.id: (r.cluster, r.role) for r in res.collect()}
    exp = {r.id: (r.cluster, r.role) for r in want.collect()}
    assert got == exp
    # fallback delta = the full result (documented upsert contract)
    assert st2["delta"].count() == res.count()


def test_ann_null_embeddings_survive(spark, sf_dir):
    """Review r3: a NULL embedding row used to crash every np.stack
    ANN path mid-job; nulls are now gated up front like
    spatial_join's null geometries."""
    from geomesa_sql_spark.ops import lsh_bucket_ann
    from geomesa_sql_spark.ops.ann import ivf_topk, pq_topk

    e = embs(spark, sf_dir).select("vec_id", "embedding").limit(40)
    with_null = e.unionByName(
        e.limit(1).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.lit(None).cast(e.schema["embedding"].dataType).alias("embedding"),
        )
    )
    q = e.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    assert lsh_bucket_ann(with_null, q, k=2, bits=8).count() > 0
    assert ivf_topk(with_null, q, k=2, n_lists=4, train_sample=40).count() > 0
    assert pq_topk(with_null, q, k=2).count() > 0


def test_embedding_clusters_rejects_string_ids(spark, sf_dir):
    """Review r3: a string id column silently cast to NULL and
    collapsed every row — now a loud TypeError."""
    import pytest as _pt

    from geomesa_sql_spark.ops import embedding_clusters

    e = embs(spark, sf_dir).limit(10).withColumn(
        "vec_id", F.col("vec_id").cast("string")
    )
    with _pt.raises(TypeError, match="must be numeric"):
        embedding_clusters(e)


def test_hash_split_string_keys(spark):
    """Review r3: string keys were cast('long') -> NULL, collapsing
    every row into one split; they now hash natively and split
    deterministically with roughly the requested proportions."""
    from geomesa_sql_spark.ops.split import hash_sample, hash_split

    df = spark.createDataFrame(
        [(f"doc_{i}",) for i in range(2000)], "doc_id string"
    )
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.2})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val"}
    assert 1400 < counts["train"] < 1800
    # determinism + nested-sample law hold for string keys too
    s10 = {r.doc_id for r in hash_sample(df, "doc_id", 0.10).collect()}
    s50 = {r.doc_id for r in hash_sample(df, "doc_id", 0.50).collect()}
    assert s10 and s10 <= s50


def test_exact_dedup_null_and_separator_safety(spark):
    """Review r3: concat_ws SKIPS nulls, so ('x', NULL) and (NULL, 'x')
    hashed identically; and a raw \\x1f inside a value could straddle
    the column separator. Columns are now base64-wrapped with an
    explicit NULL token."""
    from geomesa_sql_spark.ops.dedup import exact_dedup

    rows = [
        (1, "x", None), (2, None, "x"),          # null-position swap
        (3, "a\x1fb", "c"), (4, "a", "b\x1fc"),  # separator straddle
        (5, "x", None),                           # true dup of row 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, c1 string, c2 string")
    kept = sorted(
        r.doc_id for r in exact_dedup(df, ["c1", "c2"], "doc_id").collect()
    )
    assert kept == [1, 2, 3, 4]


def test_fnv_batch_huge_item_outlier():
    """Review r3: one multi-MB item used to densify the whole batch to
    (n, width) bytes; outliers now route through the scalar chain —
    and that chain must hash RAW bytes (a latin1->utf8 round trip
    would double every >=0x80 byte)."""
    from geomesa_sql_spark.ops.dedup import _fnv1a_bytes, _fnv1a_bytes_batch

    big = ("caf\xe9 " * 16_000).encode()  # ~96 KB, non-ASCII bytes
    items = [b"alpha", big, b"", b"beta", big + b"!"]
    got = _fnv1a_bytes_batch(items)
    assert got.tolist() == [_fnv1a_bytes(b) for b in items]


def test_dedup_keep_best_noise_labels(spark):
    """Review r3: dbscan emits cluster=-1 for noise; keep-best used to
    collapse ALL noise rows into one group and delete unrelated docs.
    Negative (and NULL) labels now mean 'keep yourself'."""
    from geomesa_sql_spark.ops.dedup import dedup_keep_best

    rows = [(1, 0.2), (2, 0.9), (7, 0.5), (8, 0.9)]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (7, -1), (8, -1)], "doc_id long, cluster long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_keep_best(df, clusters, "doc_id", "q").collect()
    )
    assert kept == [2, 7, 8]


def test_dbscan_key_type_validation(spark):
    """Review r3: a string key cast to NULL and dropped every row; a
    DOUBLE key would silently truncate, merging distinct ids. Both now
    raise up front; integral keys still work."""
    import pytest as _pytest

    from geomesa_sql_spark.ops.cluster import dbscan

    rows = [(1, 0.0, 0.0), (2, 0.1, 0.0), (3, 0.2, 0.0)]
    ok = spark.createDataFrame(rows, "id long, x double, y double")
    assert dbscan(ok, "id", "x", "y", eps=0.5, min_pts=2).count() == 3

    bad_str = ok.withColumn("id", ok.id.cast("string"))
    with _pytest.raises(TypeError, match="integral"):
        dbscan(bad_str, "id", "x", "y", eps=0.5, min_pts=2)
    bad_frac = ok.withColumn("id", ok.id.cast("double"))
    with _pytest.raises(TypeError, match="integral"):
        dbscan(bad_frac, "id", "x", "y", eps=0.5, min_pts=2)


def test_dbscan_incremental_distributed_cells_branch(spark, monkeypatch):
    """Review r3: with _DRIVER_CELLS_MAX forced to 0 every batch has
    more delta home cells than the driver cap, so it rebuilds the state
    with a full dbscan (the distributed ring expansion is gone) —
    results must equal a from-scratch rebuild."""
    from geomesa_sql_spark.ops import cluster as C

    monkeypatch.setattr(C, "_DRIVER_CELLS_MAX", 0)
    schema = "id long, x double, y double"

    def blob(start_id, cx, cy, n=24):
        return [(start_id + k, cx + 0.05 * (k % 6), cy + 0.05 * (k // 6))
                for k in range(n)]

    base_rows = blob(0, 0.0, 0.0) + blob(100, 50.0, 0.0)
    delta_rows = blob(200, 0.5, 0.5)
    base = spark.createDataFrame(base_rows, schema)
    full = spark.createDataFrame(base_rows + delta_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)
    _, st = C.dbscan(base, "id", "x", "y", eps=0.8, min_pts=3,
                     coarse_cell=1.6, return_state=True)
    res, _ = C.dbscan_incremental(full, delta, st, "id", "x", "y",
                                  eps=0.8, min_pts=3, coarse_cell=1.6)
    want = C.dbscan(full, "id", "x", "y", eps=0.8, min_pts=3,
                    coarse_cell=1.6)
    got = {r.id: (r.cluster, r.role) for r in res.collect()}
    exp = {r.id: (r.cluster, r.role) for r in want.collect()}
    assert got == exp


def test_ivf_fixed_centroids_path(spark, sf_dir):
    """r3: ivf_topk(centroids=fixed_centroids(...)) skips training (no
    corpus collect) and keeps the full assign/probe/rerank pipeline —
    k rows per query, recall well above the nprobe/n_lists floor.
    This is the configuration the ann_approx driver oracle replays
    from DOUBLE[] literals in DuckDB."""
    from geomesa_sql_spark.ops.ann import (
        cosine_topk,
        fixed_centroids,
        ivf_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter("vec_id < 3").selectExpr(
        "vec_id as q_id", "embedding as q_embedding"
    )
    cents = fixed_centroids(64, 8)
    assert cents.shape == (8, 64)
    assert (fixed_centroids(64, 8) == cents).all()  # deterministic
    out = ivf_topk(e, q, k=10, n_lists=8, nprobe=3, centroids=cents)
    counts = {r["count"] for r in out.groupBy("q_id").count().collect()}
    assert counts == {10}
    exact = cosine_topk(e, q, k=10)
    hits = out.join(exact, ["q_id", "vec_id"], "inner").count()
    assert hits / exact.count() >= 0.6


def test_exact_dedup_hash_injective_property(spark):
    """Hypothesis law: content_hash_col collides exactly when the
    column tuples are equal — over adversarial tuples mixing NULLs,
    the \\x1f separator, base64-alphabet strings and empties."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from geomesa_sql_spark.ops.dedup import content_hash_col

    atom = st.one_of(
        st.none(),
        st.sampled_from(["", "x", "a\x1fb", "b\x1fc", "<NULL>", "PE5VTEw+",
                         "a", "ab", "\x1f", "\x1f\x1f"]),
    )
    tuples = st.lists(st.tuples(atom, atom, atom), min_size=2, max_size=8)

    @settings(max_examples=20, deadline=None)
    @given(tuples)
    def law(rows):
        df = spark.createDataFrame(
            [(i, *t) for i, t in enumerate(rows)],
            "i long, c1 string, c2 string, c3 string",
        )
        got = df.withColumn(
            "h", content_hash_col(["c1", "c2", "c3"])
        ).collect()
        by_content = {}
        for r, t in zip(sorted(got, key=lambda r: r.i), rows):
            by_content.setdefault(t, set()).add(r.h)
        hashes = [h for s in by_content.values() for h in s]
        # one hash per distinct tuple, all distinct across tuples
        assert all(len(s) == 1 for s in by_content.values())
        assert len(set(hashes)) == len(by_content)

    law()


def test_decontaminate_vs_python_oracle(spark, sf_dir):
    """r3: n-gram decontamination — corpus docs sharing >= min_hits
    distinct k-token shingles with a benchmark set are flagged, exact
    against a pure-python shingle-set oracle; planted contamination
    (benchmark doc embedded verbatim in a corpus doc) is caught and
    clean docs survive decontaminate() with columns intact."""
    from geomesa_sql_spark.ops import contaminated_ids, decontaminate
    from geomesa_sql_spark.ops.dedup import _shingles

    k = 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    rows = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    ids = sorted(rows)
    # benchmark: 5 docs verbatim + one synthetic sentence nobody has
    bench_ids = ids[:5]
    bench_rows = [(rows[i],) for i in bench_ids] + [
        ("zz qq ww ee rr tt yy uu ii oo pp",)
    ]
    bench = spark.createDataFrame(bench_rows, "text string")

    got = {
        r.doc_id: r.n_hits
        for r in contaminated_ids(docs, bench, shingle_k=k).collect()
    }
    bench_sh = set()
    for t, in bench_rows:
        bench_sh |= set(_shingles(t, k).tolist())
    want = {}
    for i in ids:
        hits = len(set(_shingles(rows[i], k).tolist()) & bench_sh)
        if hits >= 1:
            want[i] = hits
    assert got == want
    assert set(bench_ids) <= set(got)  # verbatim members are flagged

    clean = decontaminate(docs, bench, shingle_k=k)
    assert set(clean.columns) == set(docs.columns)
    assert {r.doc_id for r in clean.select("doc_id").collect()} == (
        set(ids) - set(got)
    )
    # min_hits raises the bar monotonically
    strict = {
        r.doc_id
        for r in contaminated_ids(docs, bench, shingle_k=k, min_hits=3).collect()
    }
    assert strict <= set(got)


def test_dedup_keep_best_label_id_collision(spark):
    """r3b: a noise doc whose ID equals an unrelated group's LABEL must
    not merge into that group (kmeans-style small labels collide with
    ids); the group key carries a namespace flag."""
    from geomesa_sql_spark.ops.dedup import dedup_keep_best

    rows = [(5, 0.1), (7, 0.9), (8, 0.2)]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    # doc 7 and 8 form cluster LABELLED 5; doc 5 is unlabelled noise
    clusters = spark.createDataFrame(
        [(7, 5), (8, 5)], "doc_id long, cluster long"
    )
    kept = sorted(
        r.doc_id
        for r in dedup_keep_best(df, clusters, "doc_id", "q").collect()
    )
    # doc 5 keeps itself despite scoring below cluster-5's winner
    assert kept == [5, 7]


def test_decontaminate_empty_docs_not_cross_matched(spark):
    """r3b: an empty/whitespace benchmark row used to flag every
    empty corpus doc via the _shingles('') sentinel; empty docs now
    emit no shingles on either side."""
    from geomesa_sql_spark.ops import contaminated_ids

    corpus = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real shared content here ok")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("",), ("real shared content here ok",)], "text string"
    )
    got = {r.doc_id for r in contaminated_ids(corpus, bench, shingle_k=3).collect()}
    assert got == {4}


def test_pq_topk_100k_queries_distributed(spark, sf_dir):
    """VERDICT r3 #3: the PQ query side is distributed — ADC tables are
    computed by a pandas UDF over the query frame and stream through
    the driver in bounded broadcast chunks; no collect() of query
    vectors. 100k queries (13 chunks at query_chunk=8192) against the
    embeddings corpus; each query is a scaled copy of a corpus vector
    (cosine-identical direction), so the exact rerank must put its
    source at rank 1 — a recall gate without 100k brute-force runs."""
    from geomesa_sql_spark.ops.ann import pq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = (
        spark.range(100_000)
        .withColumn("src", (F.col("id") % 500).cast("int"))
        .join(
            e.select(F.col("vec_id").cast("int").alias("src"), "embedding"),
            "src",
        )
        .select(
            "src",
            F.col("id").alias("q_id"),
            F.transform("embedding", lambda x: x * 1.0001).alias("q_embedding"),
        )
    )
    out = pq_topk(e, q.drop("src"), k=5, m_sub=8, n_codes=64, rerank=20,
                  query_chunk=8192)
    assert out.count() == 100_000 * 5
    # spot-check rank-1 == source on a deterministic ~1% query sample
    sample = (
        out.filter((F.col("rank") == 1) & (F.col("q_id") % 101 == 0))
        .join(q.select("q_id", "src"), "q_id")
        .select((F.col("vec_id").cast("int") == F.col("src")).alias("hit"))
        .collect()
    )
    assert len(sample) >= 500
    hits = sum(r.hit for r in sample)
    assert hits / len(sample) >= 0.99, f"top-1 recall {hits / len(sample):.3f}"
