"""Reproducible large-scale probe behind SCALE.md's measured claims.

Generates a deterministic 1M-document English-like corpus (hashed
letter-only vocabulary, 20% stopwords, engineered duplication: per
10-doc decade one exact copy and one near-dup of the decade leader),
writes it as a testdata-layout directory, and times the declared
pipeline stages against it.

Usage: python tools/probe_scale.py [n_docs] [out_dir] [stage,stage,...]
Defaults: 1_000_000 <scratch_root>/probe_1m <default battery below>

Special stage names beyond registry queries:
  gen_embeddings  — also write an embeddings.parquet (64-dim float
                    vectors in 50 hash-derived gaussian-ish clusters,
                    label = vec_id % 50) so the ANN stack can probe
                    at the same row count;
  flagship_probe  — the full TF-IDF term-similarity pipeline on a
                    term that EXISTS in the hashed probe vocabulary
                    ('bcde' ≈ df n/208), via the generic
                    similar_terms surface over the term index.

The probe session runs with the Spark UI enabled and reports, per
stage: wall, rows, total shuffle-write delta, and the single largest
shuffle stage inside the window (REST /api/v1 — the 'peak shuffle'
figure SCALE.md quotes)."""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

STOPS = ["the", "of", "and", "to", "in"]
STAGES = ["dedup_exact", "dedup_minhash", "corpus_prep_pipeline",
          "corpus_prep_pipeline_lsh", "dedup_passage",
          "text_quality_score"]


class ShuffleMeter:
    """Cumulative shuffle-write accounting via the UI REST API."""

    def __init__(self, spark):
        self.base = None
        try:
            ui = spark.sparkContext.uiWebUrl
            app_id = spark.sparkContext.applicationId
            self.base = f"{ui}/api/v1/applications/{app_id}"
            self._stages()  # probe connectivity
        except Exception as exc:
            print(f"shuffle meter unavailable: {exc!r}")
            self.base = None

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(
                f"{self.base}/stages?status=complete", timeout=10) as r:
            return json.load(r)

    def snapshot(self) -> tuple[int, dict[int, int]]:
        if self.base is None:
            return 0, {}
        per_stage = {}
        for s in self._stages():
            per_stage[(s["stageId"], s["attemptId"])] = \
                s.get("shuffleWriteBytes", 0)
        return sum(per_stage.values()), per_stage

    def window(self, before, after) -> tuple[float, float]:
        """(total shuffle GiB written in window, peak single-stage GiB)."""
        tot_b, stages_b = before
        tot_a, stages_a = after
        new = {k: v for k, v in stages_a.items() if k not in stages_b}
        peak = max(new.values(), default=0)
        return (tot_a - tot_b) / 2**30, peak / 2**30


def generate_embeddings(spark, n: int, out_dir: str,
                        dim: int = 64, k: int = 50) -> None:
    """Deterministic clustered vectors: 50 hash-derived centers in
    [-1,1]^64, per-vector hash noise in [-0.1,0.1) — same shape
    contract as testdata embeddings (vec_id, float[dim], label)."""
    v = spark.range(n).select(F.col("id").alias("vec_id"))
    c = F.col("vec_id") % k
    cols = []
    for d in range(dim):
        center = (F.pmod(F.xxhash64(c * dim + F.lit(d)), F.lit(2000))
                  / 1000.0) - 1.0
        noise = (F.pmod(F.xxhash64(F.col("vec_id") * dim
                                   + F.lit(d + 7919)), F.lit(200))
                 / 1000.0) - 0.1
        cols.append((center + noise).cast("float"))
    (v.select("vec_id", F.array(*cols).alias("embedding"),
              c.cast("int").alias("label"))
     .write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet"))


def flagship_probe(spark, out_dir: str):
    """The reference's whole pipeline at probe scale, on a term that
    exists in the hashed vocabulary (h=1234 -> 'bcde'), through the
    generic surface (doc_id-partitioned term index + partition-local
    query join)."""
    from project_2_semantic_similarity_spark.operators import text as T

    corpus = (spark.read.parquet(f"{out_dir}/documents.parquet")
              .select("doc_id", "text"))
    return T.term_similarity_pipeline(
        corpus, "bcde", 5, round_to=6,
        cache_key=("probe_flagship", out_dir))


def synth_text(idcol):
    toks = []
    for k in range(60):
        if k % 5 == 4:
            toks.append(F.lit(STOPS[(k // 5) % 5]))
        else:
            h = F.abs(F.xxhash64(idcol * 60 + k)) % 9973
            toks.append(F.translate(h.cast("string"),
                                    "0123456789", "abcdefghij"))
    return F.concat_ws(" ", *toks)


def generate(spark, n: int, out_dir: str) -> None:
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    lead = F.col("doc_id") - (F.col("doc_id") % 10)
    txt = (F.when(F.col("doc_id") % 10 == 7, synth_text(lead))
           .when(F.col("doc_id") % 10 == 8,
                 F.concat(synth_text(lead), F.lit(" zqextratail")))
           .otherwise(synth_text(F.col("doc_id"))))
    docs = base.select(
        "doc_id", txt.alias("text"), F.lit("en").alias("lang"),
        F.lit("probe").alias("source"), F.length(txt).alias("n_chars"))
    docs.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    if len(sys.argv) > 2 and sys.argv[2]:
        out = sys.argv[2]
    else:
        # empty-string argv[2] falls through too: a bare "" would
        # make every stage write relative to the CWD (one r9 probe
        # dropped 3.5 GiB of parquet into the repo that way)
        from project_2_semantic_similarity_spark.scratch import (
            scratch_path)
        out = scratch_path("probe_1m")
    stages = sys.argv[3].split(",") if len(sys.argv) > 3 else STAGES

    from project_2_semantic_similarity_spark.operators.cache import (
        clear_slots)
    from project_2_semantic_similarity_spark.plans.registry import (
        QUERIES, load_all)
    from project_2_semantic_similarity_spark.session import get_spark

    load_all()

    def fresh_session():
        return get_spark(
            "probe_scale", cpus=32,
            extra_conf={"spark.ui.enabled": "true",
                        "spark.ui.showConsoleProgress": "false"})

    spark = fresh_session()
    t = time.time()
    generate(spark, n, out)
    print(f"corpus gen+write ({n} docs): {time.time() - t:.1f}s",
          flush=True)
    for name in stages:
        # one SparkContext per stage: shuffle files live until the
        # context stops, so a multi-stage probe on one session
        # accumulates every stage's spill on local disk (the first
        # 10M-doc run died on ENOSPC with the flagship's 22 GiB of
        # shuffle still pinned under the prep pipeline's own ~50 GiB)
        clear_slots()
        spark.stop()
        spark = fresh_session()
        meter = ShuffleMeter(spark)
        before = meter.snapshot()
        t = time.time()
        if name == "gen_embeddings":
            generate_embeddings(spark, n, out)
            cnt = n
        elif name == "flagship_probe":
            cnt = flagship_probe(spark, out).count()
        elif name == "corpus_prep_pipeline_lsh_staged":
            # scale path: parquet stage boundaries bound peak local
            # scratch to one stage's shuffle (r6 VERDICT #6)
            import shutil

            from project_2_semantic_similarity_spark.plans.q_textlab \
                import _prep_lsh_survivors

            scratch = os.path.join(out, "_prep_stages")
            cnt = _prep_lsh_survivors(spark, out,
                                      stage_to=scratch).count()
            shutil.rmtree(scratch, ignore_errors=True)
        elif name == "cc_star_deep":
            # 5k chains of depth 1000 (5M nodes / ~5M edges): the
            # graph shape where min-label CC would need ~1000 shuffle
            # rounds; star alternation must land in O(log depth).
            # Self-checks the closed-form fixed point (component =
            # chain head) before reporting.
            from project_2_semantic_similarity_spark.operators.graph \
                import connected_components_star

            chains, depth = 5000, 1000
            nodes = spark.range(chains * depth)
            edges = (nodes.filter(F.pmod(F.col("id"), F.lit(depth))
                                  != depth - 1)
                     .select(F.col("id").alias("u"),
                             (F.col("id") + 1).alias("v")))
            labels = connected_components_star(edges, "u", "v",
                                               max_rounds=25)
            expected = F.col("node") - F.pmod(F.col("node"),
                                              F.lit(depth))
            bad = labels.filter(
                F.col("component_id") != expected).count()
            assert bad == 0, f"{bad} mislabeled nodes"
            cnt = labels.count()
        elif name == "wsample_probe":
            from project_2_semantic_similarity_spark.operators.sampling \
                import weighted_sample_es

            docs = spark.read.parquet(f"{out}/documents.parquet")
            cnt = weighted_sample_es(
                docs, "doc_id", F.length("text"), 1000).count()
        elif name == "cms_probe":
            from project_2_semantic_similarity_spark.operators.sketch \
                import cms_sketch

            docs = spark.read.parquet(f"{out}/documents.parquet")
            cnt = cms_sketch(docs, "doc_id").count()
        elif name == "bloom_probe":
            # 10k-key bloom (2^17 bits — a 2048-long constant-folded
            # literal) pruning an n-row fact relation; reports the
            # kept-row count so the fp mass is visible next to the
            # ~10k true matches.
            from project_2_semantic_similarity_spark.operators.sketch \
                import bloom_build, bloom_might_contain

            keys = spark.range(10_000).select(
                (F.col("id") * 977).alias("k"))
            words = bloom_build(keys, "k", m_log2=17)
            fact = spark.range(n).select(
                F.pmod(F.xxhash64("id"), F.lit(10_000_000)).alias("k"))
            cnt = fact.filter(
                bloom_might_contain(F.col("k"), words)).count()
        elif name == "phash_probe":
            # decode+hash throughput of the image near-dup pipeline's
            # narrow stage: n real PPM payloads parsed and dHashed.
            # The banded join is NOT probed on this corpus — the
            # doc_id-derived fixture images are engineered to be
            # heavily self-similar (pair volume is a data property);
            # the join machinery's scaling evidence is dedup_simhash's
            # (same operator, same blocking).
            from project_2_semantic_similarity_spark.operators.\
                multimodal import attach_ppm_payload, phash_image

            docs = spark.read.parquet(f"{out}/documents.parquet")
            cnt = (phash_image(attach_ppm_payload(docs))
                   .agg(F.countDistinct("phash")).collect()[0][0])
        elif name == "triangle_probe":
            # ladder graph with known closure: edges (i,i+1) and
            # (i,i+2) → exactly n-2 triangles (i,i+1,i+2). Exercises
            # the wedge join + closing-edge join at 2n edges with a
            # closed-form self-check, so the probe validates while it
            # times.
            from project_2_semantic_similarity_spark.operators.cache \
                import keyed_persist

            nodes = spark.range(n)
            e1 = nodes.filter(F.col("id") < n - 1).select(
                F.col("id").alias("p1"), (F.col("id") + 1).alias("p2"))
            e2 = nodes.filter(F.col("id") < n - 2).select(
                F.col("id").alias("p1"), (F.col("id") + 2).alias("p2"))
            pairs = keyed_persist("triangle_edges", ("probe", n, out),
                                  lambda: e1.unionAll(e2))
            a, b, c = pairs.alias("e1"), pairs.alias("e2"), \
                pairs.alias("e3")
            tri = (a.join(b, F.col("e2.p1") == F.col("e1.p2"))
                   .join(c, (F.col("e3.p1") == F.col("e1.p1"))
                         & (F.col("e3.p2") == F.col("e2.p2"))))
            cnt = tri.count()
            assert cnt == n - 2, f"expected {n - 2} triangles, {cnt}"
        elif name in ("png_decode_probe", "jpeg_decode_probe"):
            # decode throughput of the compressed codecs' narrow
            # Arrow stage: n real files parsed end-to-end (zlib +
            # filter reconstruction / Huffman + IDCT). Self-checks
            # the per-doc mean against the fixture arithmetic for a
            # sample of rows while timing.
            from project_2_semantic_similarity_spark.operators.\
                multimodal import (attach_jpeg_payload,
                                   attach_png_payload, decode_image)

            docs = spark.range(n).select(F.col("id").alias("doc_id"))
            attach = (attach_png_payload if name.startswith("png")
                      else attach_jpeg_payload)
            decoded = decode_image(attach(docs))
            sample = decode_image(attach(
                docs.filter(F.col("doc_id") == 7))).collect()[0]
            if name.startswith("png"):
                d = 7
                w_, h_ = 4 + d % 5, 3 + d % 4
                want_r = sum((3 * d + 11 * x + 19 * y) % 256
                             for x in range(w_) for y in range(h_)
                             ) / (w_ * h_)
                assert abs(sample["mean_r"] - want_r) < 1e-9, sample
            else:
                d = 7
                wt, ht = 2 + d % 3, 1 + d % 2
                want = sum((7 * d + 31 * tx + 59 * ty) % 256
                           for tx in range(wt) for ty in range(ht)
                           ) / (wt * ht)
                assert abs(sample["mean_r"] - want) < 1e-9, sample
            cnt = decoded.count()
        elif name == "gen_events":
            # Synthetic event log in the testdata layout, with CRT
            # structure that gives the bitmap family CLOSED FORMS:
            # user = id % 1e6, day = id % 60; gcd(1e6, 60) = 20, so
            # user u is active on day d iff u ≡ d (mod 20) — every
            # day has exactly 50,000 distinct users, and a k-day run
            # of consecutive days covers min(k, 20) residue classes.
            # Full coverage of the (day, user) residue pairs needs n
            # to be a multiple of lcm(60, 1e6) = 3,000,000.
            assert n % 3_000_000 == 0, \
                "gen_events needs n % 3,000,000 == 0 for the closed forms"
            cnt = n
            # match the testdata micros layout (Spark 4.1 otherwise
            # writes TIMESTAMP(NANOS), the other dual-layout arm)
            spark.conf.set("spark.sql.parquet.outputTimestampType",
                           "TIMESTAMP_MICROS")
            (spark.range(n).select(
                F.col("id").alias("event_id"),
                F.timestamp_seconds(
                    F.lit(86400 * 19000)
                    + F.pmod(F.col("id"), F.lit(60)) * 86400
                    + F.pmod(F.col("id"), F.lit(86400))).alias("ts"),
                F.pmod(F.col("id"), F.lit(1_000_000)).alias("user_id"),
                F.lit("click").alias("event_type"),
                (F.pmod(F.col("id"), F.lit(100)) / 10.0).alias("value"),
                F.lit("{}").alias("props"))
             .write.mode("overwrite").parquet(f"{out}/events.parquet"))
        elif name == "bitmap_sliding_probe":
            # events_sliding_distinct_bitmap on the CRT event log:
            # day d (0-59) must report 50,000 × min(d+1, 7) distinct
            # users in its trailing 7-day window. Self-checks every
            # row while timing — pins the |users|/64-word claim: the
            # post-agg relation is 60 days × ≤15,625 words.
            res = QUERIES["events_sliding_distinct_bitmap"](spark, out)
            rows = res.collect()
            assert len(rows) == 60, f"expected 60 days, {len(rows)}"
            import datetime as _dt
            for r in rows:
                d = (_dt.date.fromisoformat(r["day"])
                     - _dt.date(1970, 1, 1)).days - 19000
                want = 50_000 * min(d + 1, 7)
                assert r["n_users_7d"] == want, \
                    f"day {d}: {r['n_users_7d']} != {want}"
            cnt = len(rows)
        elif name == "bitmap_dau_mau_probe":
            # events_dau_mau_stickiness on the same log: DAU = 50,000
            # every day; MAU(d) = 50,000 × min(min(d+1, 30), 20)
            # (consecutive days cover at most all 20 residue classes).
            res = QUERIES["events_dau_mau_stickiness"](spark, out)
            rows = res.collect()
            assert len(rows) == 60, f"expected 60 days, {len(rows)}"
            import datetime as _dt
            for r in rows:
                d = (_dt.date.fromisoformat(r["day"])
                     - _dt.date(1970, 1, 1)).days - 19000
                want_mau = 50_000 * min(d + 1, 30, 20)
                assert r["dau"] == 50_000, f"day {d}: dau {r['dau']}"
                assert r["mau"] == want_mau, \
                    f"day {d}: mau {r['mau']} != {want_mau}"
            cnt = len(rows)
        elif name == "multimodal_volume_probe":
            # r8 VERDICT #7: pin the codec family's zero-shuffle
            # narrow Arrow stage AT VOLUME. Per doc a REAL PNG of
            # (32+id%17) x (24+id%13) RGB px (multi-KB deflated, the
            # same pixel arithmetic as the fixture so one decoded
            # mean self-checks), decoded end-to-end; reports decoded
            # raster GiB + a sampled payload-size estimate alongside
            # rows/s. Peak memory stays bounded by
            # maxRecordsPerBatch x image size — no shuffle at all.
            import pandas as _pd

            from project_2_semantic_similarity_spark.operators.\
                multimodal import (PNG_MEDIA_TYPE, decode_image,
                                   encode_png)

            def gen(batches):
                import numpy as _np
                for pdf in batches:
                    payloads = []
                    for doc_id in pdf["doc_id"]:
                        w_ = 32 + doc_id % 17
                        h_ = 24 + doc_id % 13
                        ys = _np.arange(h_, dtype=_np.int64)[:, None,
                                                             None]
                        xs = _np.arange(w_, dtype=_np.int64)[None, :,
                                                             None]
                        cs = _np.arange(3, dtype=_np.int64)[None,
                                                            None, :]
                        # x*y term breaks row linearity so deflate
                        # can't trivially flatten the Sub deltas —
                        # realistic payload sizes, still
                        # closed-form-checkable
                        px = ((3 * doc_id + 11 * xs + 19 * ys
                               + 37 * cs + 5 * xs * ys)
                              % 256).astype(_np.uint8)
                        payloads.append(encode_png(px))
                    yield _pd.DataFrame({
                        "doc_id": pdf["doc_id"],
                        "payload": payloads,
                        "media_type": PNG_MEDIA_TYPE})

            docs = spark.range(n).select(F.col("id").alias("doc_id"))
            schema = ("doc_id bigint, payload binary, "
                      "media_type string")
            # stage payloads to parquet UNTIMED: the system under
            # test is the decode stage reading files from storage,
            # not our fixture encoder
            pq = os.path.join(out, "png_volume.parquet")
            docs.mapInPandas(gen, schema=schema) \
                .write.mode("overwrite").parquet(pq)
            payloads = spark.read.parquet(pq)
            pay_bytes = payloads.agg(
                F.sum(F.length("payload"))).collect()[0][0]
            t_dec = time.time()
            decoded = decode_image(payloads)
            row = decoded.agg(
                F.count("*"),
                F.sum(F.col("width") * F.col("height") * 3)).collect()
            dec_wall = time.time() - t_dec
            cnt, raster_bytes = row[0][0], row[0][1]
            sample = decode_image(
                payloads.filter(F.col("doc_id") == 7)).collect()[0]
            d = 7
            w_, h_ = 32 + d % 17, 24 + d % 13
            want_r = sum((3 * d + 11 * x + 19 * y + 5 * x * y) % 256
                         for x in range(w_) for y in range(h_)
                         ) / (w_ * h_)
            assert abs(sample["mean_r"] - want_r) < 1e-9, sample
            peak = ""
            try:
                with urllib.request.urlopen(
                        f"{meter.base}/executors", timeout=10) as r:
                    execs = json.load(r)
                mem = max((e.get("peakMemoryMetrics", {})
                           .get("JVMHeapMemory", 0)) for e in execs)
                py = max((e.get("peakMemoryMetrics", {})
                          .get("ProcessTreePythonRSSMemory", 0))
                         for e in execs)
                peak = (f" peak_jvm={mem / 2**30:.2f}GiB"
                        f" peak_py_rss={py / 2**30:.2f}GiB")
            except Exception:
                pass
            print(f"  decode-only: {dec_wall:.1f}s "
                  f"{cnt / dec_wall:.0f} rows/s "
                  f"({cnt / dec_wall / 32:.0f} rows/s/core) "
                  f"payload={pay_bytes / 2**30:.2f}GiB "
                  f"raster={raster_bytes / 2**30:.2f}GiB "
                  f"({raster_bytes / dec_wall / 2**20:.0f} MiB/s "
                  f"raster){peak}", flush=True)
        elif name == "bpe_apply_50k_probe":
            # r9 VERDICT #1: tokenize wall at a 50k-row merge table.
            # The Arrow applier's cost is per VOCABULARY entry (the
            # probe corpus has ~10k distinct words) plus one rank-
            # dict broadcast — merge count must move the wall only
            # through dict size, never through the corpus stage.
            from project_2_semantic_similarity_spark.operators.text \
                import bpe_word_tokens_arrow, large_merges
            from project_2_semantic_similarity_spark.sources import (
                load_table)

            docs = load_table(spark, out, "documents")
            words = (docs.select(
                         "doc_id",
                         F.explode(F.split(F.col("text"), " "))
                          .alias("word"))
                     .filter(F.col("word") != "")
                     .groupBy("doc_id", "word")
                     .agg(F.count("*").alias("cnt")))
            vocab = bpe_word_tokens_arrow(
                words.select("word").distinct(), large_merges(50_000))
            cnt = (words.join(F.broadcast(vocab), "word")
                   .groupBy("doc_id")
                   .agg(F.sum(F.col("cnt") * F.col("n_tok"))
                         .alias("n_bpe_tokens"))).count()
        elif name == "bpe_fold_analysis_probe":
            # Catalyst ANALYSIS cost of the nested-lambda fold as the
            # merge count grows — the measurement that motivates the
            # Arrow applier for large tables. Times .schema
            # resolution (analysis only, one-row relation, no
            # execution) at 32/128/512/1024 merges.
            from project_2_semantic_similarity_spark.operators.text \
                import bpe_segment, large_merges

            merges = large_merges(1024)
            one = spark.createDataFrame([("querywindow",)], ["word"])
            chars = F.filter(F.split(F.col("word"), ""),
                             lambda c: c != "")
            for k in (32, 64, 96, 128, 512, 1024):
                tk = time.time()
                try:
                    _ = one.withColumn(
                        "tokens", bpe_segment(chars, merges[:k])).schema
                    print(f"  fold analysis @ {k} merges: "
                          f"{time.time() - tk:.1f}s", flush=True)
                except Exception as exc:  # analyzer iteration cap
                    msg = str(exc).splitlines()[0][:90]
                    print(f"  fold analysis @ {k} merges: FAILS "
                          f"after {time.time() - tk:.1f}s ({msg})",
                          flush=True)
            cnt = 1
        elif name == "running_sum_probe":
            # n rows of value 1 sorted by id: running sum must equal
            # id+1 for every row — validates the range-partition +
            # broadcast-offset machinery exactly while timing it.
            from project_2_semantic_similarity_spark.operators.rank \
                import with_global_running_sum

            rows = spark.range(n).select(
                F.col("id"), F.lit(1).cast("bigint").alias("v"))
            summed = with_global_running_sum(
                rows, [F.col("id").asc()], "v", sum_col="run")
            bad = summed.filter(
                F.col("run") != F.col("id") + 1).count()
            assert bad == 0, f"{bad} wrong prefix sums"
            cnt = summed.count()
        elif name == "batched_pipeline_probe":
            # r11 VERDICT #7: the composed pipeline with the BATCHED
            # trainer at realistic merge count — train 1k merges
            # (batch 32), re-segment the vocabulary with the Arrow
            # applier, rank ids, encode, window-pack. Reports each
            # phase's wall so the declare/don't-declare decision in
            # SCALE.md rests on measurement.
            from project_2_semantic_similarity_spark.operators.rank \
                import with_global_rank, with_global_running_sum
            from project_2_semantic_similarity_spark.operators.text \
                import (bpe_encode_corpus, bpe_train_batched,
                        bpe_word_tokens_arrow)

            docs = (spark.read
                    .parquet(f"{out}/documents.parquet")
                    .select("doc_id", "text"))
            dwords = (docs.select(
                "doc_id",
                F.explode(F.split(F.col("text"), " ")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("doc_id", "word")
                .agg(F.count("*").alias("cnt"))).localCheckpoint()
            words = dwords.groupBy("word").agg(
                F.sum("cnt").alias("cnt"))
            tt = time.time()
            rounds = bpe_train_batched(words, 1000, batch=32)
            flat = [(a, b) for rnd in rounds for a, b, _ in rnd]
            t_train = time.time() - tt
            tt = time.time()
            vocab = bpe_word_tokens_arrow(
                dwords.select("word").distinct(), flat
            ).localCheckpoint()
            t_seg = time.time() - tt
            freq = (dwords.join(vocab, "word")
                    .select(F.explode("tokens").alias("token"), "cnt")
                    .groupBy("token").agg(F.sum("cnt").alias("freq")))
            ids = with_global_rank(
                freq, [F.col("freq").desc(), F.col("token").asc()],
                rank_col="rn").select(
                "token", (F.col("rn") + 3).cast("long")
                .alias("token_id"))
            tt = time.time()
            enc = bpe_encode_corpus(docs, vocab, ids, unk_id=1)
            nbpe = (dwords.join(vocab, "word")
                    .groupBy("doc_id")
                    .agg(F.sum(F.col("cnt") * F.col("n_tok"))
                          .alias("n_bpe")))
            offs = with_global_running_sum(
                nbpe, [F.col("doc_id").asc()], "n_bpe",
                sum_col="cum").select(
                "doc_id", (F.col("cum") - F.col("n_bpe"))
                .alias("strt"))
            gpos = F.col("strt") + F.col("pos")
            cnt = (enc.join(offs, "doc_id")
                   .select(F.floor(gpos / 512).cast("long")
                           .alias("window_id"),
                           (gpos % 512).cast("long")
                           .alias("window_pos"),
                           "token_id")).count()
            t_pack = time.time() - tt
            print(f"  train_batched 1k merges: {t_train:.1f}s "
                  f"({len(flat)} learned / {len(rounds)} rounds); "
                  f"arrow re-segment: {t_seg:.1f}s; "
                  f"encode+pack: {t_pack:.1f}s", flush=True)
        elif name == "byte_encode_probe":
            # r12: byte-level encode at corpus scale — the question
            # is the mapping projection's cost (hex + 256-entry map
            # literal per UTF-8 byte, ~7 chars/word x 120M tokens)
            # on top of the plain encode's measured 26.6 s.
            from project_2_semantic_similarity_spark.operators.rank \
                import with_global_rank
            from project_2_semantic_similarity_spark.operators.text \
                import (bpe_encode_corpus, bpe_word_tokens,
                        byte_bpe_ids, byte_unicode_docs)

            docs = (spark.read
                    .parquet(f"{out}/documents.parquet")
                    .select("doc_id", "text"))
            mapped = byte_unicode_docs(docs)
            tt = time.time()
            words = (mapped.select(
                F.explode(F.split(F.col("text"), " ")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("cnt"))
            ).localCheckpoint()
            t_words = time.time() - tt
            tt = time.time()
            vocab = bpe_word_tokens(
                words.select("word").distinct()).localCheckpoint()
            t_vocab = time.time() - tt
            ids = byte_bpe_ids(spark)
            tt = time.time()
            cnt = bpe_encode_corpus(mapped, vocab, ids,
                                    unk_id=1).count()
            t_enc = time.time() - tt
            print(f"  mapped word-count agg: {t_words:.1f}s; "
                  f"vocab fold: {t_vocab:.1f}s; "
                  f"gated encode (incl. mapping projection): "
                  f"{t_enc:.1f}s", flush=True)
        elif name == "decode_roundtrip_probe":
            # r12: encode(marked) -> decode at corpus scale, with the
            # roundtrip SELF-CHECKED while timing (decoded text must
            # equal the single-space-normalized source on every doc —
            # a distributed anti-join count, not a collect).
            from project_2_semantic_similarity_spark.operators.text \
                import (bpe_decode_ids, bpe_encode_corpus,
                        bpe_word_tokens, byte_bpe_ids,
                        byte_unicode_docs_marked)

            docs = (spark.read
                    .parquet(f"{out}/documents.parquet")
                    .select("doc_id", "text"))
            marked = byte_unicode_docs_marked(docs)
            words = (marked.select(
                F.explode(F.split(F.col("text"), " ")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("cnt"))
            ).localCheckpoint()
            vocab = bpe_word_tokens(
                words.select("word").distinct()).localCheckpoint()
            ids = byte_bpe_ids(spark)
            tt = time.time()
            stream = bpe_encode_corpus(marked, vocab, ids, unk_id=1)
            decoded = bpe_decode_ids(stream, ids).localCheckpoint()
            t_dec = time.time() - tt
            norm = docs.select(
                "doc_id",
                F.concat_ws(" ", F.filter(
                    F.split(F.col("text"), " "),
                    lambda x: x != "")).alias("want"))
            bad = (decoded.join(norm, "doc_id")
                   .filter(F.col("decoded_text") != F.col("want"))
                   .count())
            assert bad == 0, f"{bad} docs failed the roundtrip"
            cnt = decoded.count()
            print(f"  encode+decode wall: {t_dec:.1f}s; "
                  f"roundtrip exact on all {cnt} docs", flush=True)
        elif name == "wordpiece_probe":
            # r12: greedy longest-match over the distinct-word
            # relation + unhinted join-back — the cost model says
            # Python per VOCABULARY entry, so the wall should track
            # the word-count agg, not the corpus size.
            from project_2_semantic_similarity_spark.operators.text \
                import wordpiece_word_tokens

            docs = (spark.read
                    .parquet(f"{out}/documents.parquet")
                    .select("doc_id", "text"))
            dwords = (docs.select(
                "doc_id",
                F.explode(F.split(F.col("text"), " ")).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("doc_id", "word")
                .agg(F.count("*").alias("cnt")))
            vocab = wordpiece_word_tokens(
                dwords.select("word").distinct())
            cnt = (dwords.join(vocab, "word")
                   .groupBy("doc_id")
                   .agg(F.sum(F.col("cnt") * F.col("n_tok"))
                         .alias("n_wp"))).count()
        elif name == "stream_encode_probe":
            # r12: the stateless serving tokenizer's throughput —
            # the identical mapInPandas stage runs on batch and
            # stream (twin-pinned in tests), so the batch frame
            # times the per-micro-batch cost without file-staging
            # noise.
            from project_2_semantic_similarity_spark.streaming.ops \
                import bpe_encode_stream

            docs = (spark.read
                    .parquet(f"{out}/documents.parquet")
                    .select("doc_id", "text"))
            cnt = bpe_encode_stream(docs).count()
        elif name == "semdedup_probe":
            # r13 (r12 verdict #4): the count-derived k must bound
            # the per-cluster quadratic pair term at probe scale.
            # Reports k, the cluster-size distribution, and the
            # candidate pair volume sum(c·(c−1)) vs the fixed-k=8
            # counterfactual n²/8-ish volume the old constant gave.
            from project_2_semantic_similarity_spark.operators import (
                similarity as SIM)
            from project_2_semantic_similarity_spark.plans.q_knn import (
                _SEMDEDUP_ITERS, _semdedup_k)

            e = spark.read.parquet(f"{out}/embeddings.parquet")
            n_vec = e.count()
            kk = _semdedup_k(n_vec)
            tt = time.time()
            assigned = SIM.kmeans_train(
                e, k=kk, iters=_SEMDEDUP_ITERS).localCheckpoint()
            t_fit = time.time() - tt
            sizes = assigned.groupBy("list_id").count()
            st = sizes.agg(
                F.count("*").alias("nonempty"),
                F.max("count").alias("mx"),
                F.avg("count").alias("avg"),
                F.sum(F.col("count") * (F.col("count") - 1))
                 .alias("pairs")).collect()[0]
            fixed8 = 8 * (n_vec / 8) * (n_vec / 8 - 1)
            print(f"  k={kk} fit+assign={t_fit:.1f}s "
                  f"nonempty_clusters={st.nonempty} "
                  f"max_cluster={st.mx} avg={st.avg:.0f} "
                  f"pair_volume={st.pairs:.3e} "
                  f"(fixed-k8 counterfactual {fixed8:.3e}, "
                  f"{fixed8 / max(st.pairs, 1):.0f}x reduction)",
                  flush=True)
            cnt = n_vec
        elif name == "semdedup_skew_probe":
            # r14 (r13 verdict #7): duplicate-heavy corpora
            # concentrate mass — k-scaling bounds only the EXPECTED
            # cluster size. Skewed variant of the probe embeddings:
            # every 4th vector is replaced by ONE EXACT duplicate
            # vector (a 25% exact-dup pile — the regime k-means
            # provably cannot split: after one pile copy seeds a
            # center, every other copy is distance-0 from it, and
            # identical centers collapse via ivf_assign's
            # lowest-label tie-break into a single cluster). A
            # JITTERED pile, by contrast, k-means splits on its own:
            # the first run of this probe used ±0.03/dim per-vector
            # jitter and measured oversized_clusters=0 at 2M/k=3125
            # — ~780 init centers landed inside the pile and
            # partitioned it into ~640-member cells, so the guard
            # correctly never fired (that result is the guard's
            # 8x-headroom justification; see SCALE.md). Reports the
            # oversized clusters the _SEMDEDUP_EXACT_CLUSTER_MAX
            # gate routes to the LSH branch, their exact-join
            # counterfactual sum c·(c−1), and the branch's ACTUAL
            # comparison volume under the production
            # 12-plane/8-table bucket-REPRESENTATIVE scheme (each
            # member vs its bucket's rank-1 member: sum over buckets
            # of (c_b − 1) — linear per table even though an exact
            # pile shares every bucket).
            from project_2_semantic_similarity_spark.operators import (
                similarity as SIM)
            from project_2_semantic_similarity_spark.plans.q_knn import (
                _SEMDEDUP_EXACT_CLUSTER_MAX, _SEMDEDUP_ITERS,
                _semdedup_k)

            base = spark.read.parquet(f"{out}/embeddings.parquet")
            dim = 64
            pile = [
                ((F.pmod(F.xxhash64(F.lit(d)), F.lit(2000)) / 1000.0)
                 - 1.0).cast("float")
                for d in range(dim)]
            e = base.select(
                "vec_id",
                F.when(F.col("vec_id") % 4 == 0, F.array(*pile))
                 .otherwise(F.col("embedding")).alias("embedding"),
                "label")
            n_vec = e.count()
            kk = _semdedup_k(n_vec)
            tt = time.time()
            assigned = SIM.kmeans_train(
                e, k=kk, iters=_SEMDEDUP_ITERS).localCheckpoint()
            t_fit = time.time() - tt
            sizes = assigned.groupBy("list_id").count()
            big = sizes.filter(
                F.col("count") > _SEMDEDUP_EXACT_CLUSTER_MAX)
            st = big.agg(
                F.count("*").alias("n_big"),
                F.max("count").alias("mx"),
                F.sum(F.col("count") * (F.col("count") - 1))
                 .alias("exact_pairs")).collect()[0]
            # LSH branch candidate volume: bucket the oversized-
            # cluster members with the production scheme and sum the
            # per-(cluster, table, bucket) join volume
            emb = e.select("vec_id", F.col("embedding")
                           .cast("array<double>").alias("emb"))
            members = (assigned.join(big.select("list_id"), "list_id")
                       .join(emb, "vec_id"))
            bt = SIM.lsh_bucket_tables(
                members.select("vec_id", "list_id", "emb"),
                dim=dim, n_planes=12, n_tables=8, seed=42,
                vec_col="emb", plane_family="rademacher")
            lsh_vol = (bt.groupBy("list_id", "table_id", "bucket")
                       .count()
                       .agg(F.sum(F.col("count") - 1))
                       .collect()[0][0]) or 0
            print(f"  k={kk} fit+assign={t_fit:.1f}s "
                  f"oversized_clusters={st.n_big} "
                  f"max_cluster={st.mx} "
                  f"exact_counterfactual={float(st.exact_pairs or 0):.3e} "
                  f"rep_comparison_volume={float(lsh_vol):.3e} "
                  f"({float(st.exact_pairs or 1) / max(float(lsh_vol), 1):.0f}x reduction)",
                  flush=True)
            cnt = n_vec
        elif name == "range_search_probe":
            # r13: the gated fallback path of knn_range_search at
            # scale — every-100th-vec query block (n/100 queries
            # SCALES WITH the corpus, the reason the r12 broadcast
            # was a scale killer) through the sign-LSH candidate
            # path with scale-appropriate params (12 planes → 4096
            # buckets, 8 tables). The broadcast-NLJ counterfactual
            # at this size is n²/100 ≈ 4e10 interpreted cosine
            # folds; the LSH path's work is the candidate volume
            # it reports.
            from unittest import mock

            from project_2_semantic_similarity_spark.operators import (
                similarity as SIM)

            e = spark.read.parquet(f"{out}/embeddings.parquet")
            q = (e.filter(F.col("vec_id") % 100 == 0)
                 .select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("qv")))
            n_q = q.count()
            # a zero bound forces the LSH branch
            with mock.patch.object(SIM, "RANGE_BROADCAST_Q_MAX", 0):
                res = SIM.cosine_range_search(
                    e, q, 0.8, n_planes=12, n_tables=8)
            cnt = res.count()
            print(f"  {n_q} queries x {e.count()} corpus, tau=0.8: "
                  f"{cnt} in-radius pairs via LSH candidates",
                  flush=True)
        else:
            cnt = QUERIES[name](spark, out).count()
        wall = time.time() - t
        tot_gib, peak_gib = meter.window(before, meter.snapshot())
        print(f"{name}: {wall:.1f}s rows={cnt} "
              f"shuffle_write={tot_gib:.2f}GiB "
              f"peak_stage={peak_gib:.2f}GiB", flush=True)


if __name__ == "__main__":
    main()
