"""The benchmark's workloads.

Each workload owns its inputs (made from the seed, untimed) and runs one
*pass*: a fixed list of items, each driven through the engine's public
functions and checked against an expected digest. Every pass reads its
own input directory, so caches keyed by ``(applicationId, sf_dir)`` miss
on every pass, as they would on a new daily snapshot.

- ``analytics``: registry queries with little or no Python (star and
  relational queries, windows and events, text, dedup and similarity).
  It loads driver-side plan building, Catalyst, codegen, shuffle and the
  session caches, and barely touches the decode kernels.
- ``decode``: media decode gates, heavy codecs beside light probes whose
  cost is mostly per-gate Python worker init. Python-kernel bound.
- ``ingest``: the reference ingestion pipeline itself, the only workload
  that writes: JSONL read with error rows, manifest anti-join, segment
  flattening, JSONL append, collector fallback into the same sink, read
  back, and a streaming drain of the sink.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import pyspark.sql.functions as F

from check_oracle import table_digest
from input_data_pipeline_spark.plans.registry import get as registry_get
from input_data_pipeline_spark.sources import collectors, ingest_model
from input_data_pipeline_spark.streaming import pipelines

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

ANALYTICS = [
    "revenue_by_region",
    "pricing_summary",
    "user_sessions",
    "c4_quality_flags",
    "oov_rate_by_source",
]

DECODE = [
    # heavy kernels
    "mp3_pcm_decode_features",
    "au_adpcm_decode_features",
    "jpeg_decode_features",
    "vorbis_decode_features",
    "mpeg1_layer2_decode_features",
    "audio_mfcc_features",
    # light gates: mostly per-gate Python init
    "wav_ext_decode_features",
    "adts_probe_features",
    "ogg_probe_features",
    "audio_tags_features",
]


class Failure(Exception):
    """An item whose output did not match its expected digest."""


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def link_tables(src_dir: str, dst_dir: str, overrides: dict[str, str] | None = None) -> None:
    """Make ``dst_dir`` a table directory of symlinks into ``src_dir``."""
    os.makedirs(dst_dir)
    for fname in sorted(os.listdir(src_dir)):
        target = (overrides or {}).get(fname, os.path.join(src_dir, fname))
        os.symlink(target, os.path.join(dst_dir, fname))


class QueryWorkload:
    """A pass runs registry queries in a seeded order and collects each."""

    def __init__(self, name: str, items: list[str], warmup_passes: int,
                 nominal_pass_s: float, doc_limit: int | None = None):
        self.name = name
        self.items = items
        self.warmup_passes = warmup_passes
        self.nominal_pass_s = nominal_pass_s
        self.doc_limit = doc_limit  # read only documents with doc_id < doc_limit

    def prepare(self, ctx) -> None:
        self.order = list(self.items)
        random.Random(ctx.seed).shuffle(self.order)
        self.expected = load_expected()[self.name]
        self.src_dir = ctx.sf_dir
        self.overrides = {}
        if self.doc_limit is not None:
            self.overrides["documents.parquet"] = write_doc_subset(
                ctx.sf_dir, os.path.join(ctx.run_dir, "documents.parquet"), self.doc_limit)
        self.fns = {name: registry_get(name).fn for name in self.order}

    def new_pass_input(self, ctx, k: int) -> str:
        d = os.path.join(ctx.run_dir, f"pass-{k}")
        link_tables(self.src_dir, d, self.overrides)
        return d

    def run_pass(self, ctx, sf_dir: str, layers) -> list[tuple[str, object, float]]:
        """Run every item; return (item, outcome, seconds) where outcome is
        the collected (columns, rows) or the exception raised."""
        out = []
        for name in self.order:
            t0 = time.perf_counter()
            try:
                outcome = layers.run_query(name, self.fns[name], sf_dir)
            except Exception as e:  # noqa: BLE001 - an item failure is counted, not fatal
                outcome = e
            out.append((name, outcome, time.perf_counter() - t0))
        return out

    def check(self, name: str, outcome) -> None:
        if isinstance(outcome, Exception):
            raise outcome
        cols, rows = outcome
        got = table_digest(cols, rows)
        if got != self.expected[name]:
            raise Failure(f"{name}: digest {got} != expected {self.expected[name]}")


def write_doc_subset(sf_dir: str, dst: str, doc_limit: int) -> str:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(t.filter(pc.less(t["doc_id"], doc_limit)), dst)
    return dst


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

N_URLS = 96
N_URL_INVALID = 10
N_URL_TRANSCRIPT_OK = 43  # the rest fall back to download + STT
N_RECORDS = 1200
N_MANIFEST_HITS = 360
N_MALFORMED = 48
N_INPUT_FILES = 4
_ID_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-"
_URL_FORMS = ("https://www.youtube.com/watch?v={}", "https://youtu.be/{}",
              "https://www.youtube.com/embed/{}", "https://www.youtube.com/shorts/{}")
_WORDS = ("data", "pipeline", "spark", "audio", "frame", "token", "record",
          "stream", "batch", "sink", "video", "text")
SINK_COLS = ["id", "source_type", "text", "segments", "binary_path", "meta"]


def _norm_row(row) -> tuple:
    """Order-stable form of one IngestRecord row for the digest: segments
    as tuples, the meta map as sorted pairs."""
    rid, st, text, segs, bp, meta = row
    segs = None if segs is None else tuple(tuple(s) for s in segs)
    meta = None if meta is None else tuple(sorted(meta.items()))
    return (rid, st, text, segs, bp, meta)


def _transcript_ok(vid: str) -> bool:
    return int(hashlib.md5(vid.encode()).hexdigest(), 16) % 2 == 0


class IngestWorkload:
    name = "ingest"

    def __init__(self, warmup_passes: int, nominal_pass_s: float):
        self.warmup_passes = warmup_passes
        self.nominal_pass_s = nominal_pass_s

    # ---- inputs --------------------------------------------------------
    def prepare(self, ctx) -> None:
        """Write the incoming JSONL batch and the manifest, build the URL
        list, and derive the expected sink rows from the same generator.
        Counts are constant; the seed decides which records and URLs fall
        in each class, so every seed does the same amount of work."""
        rng = random.Random(ctx.seed)
        self.src = os.path.join(ctx.run_dir, "ingest-src")
        os.makedirs(os.path.join(self.src, "incoming"))
        os.makedirs(os.path.join(self.src, "manifest"))

        # URL list: invalid, transcript-OK and STT-fallback ids
        want = {True: N_URL_TRANSCRIPT_OK, False: N_URLS - N_URL_INVALID - N_URL_TRANSCRIPT_OK}
        vids = []
        while want[True] or want[False]:
            vid = "".join(rng.choice(_ID_CHARS) for _ in range(11))
            ok = _transcript_ok(vid)
            if want[ok] and vid not in vids:
                want[ok] -= 1
                vids.append(vid)
        urls = [rng.choice(_URL_FORMS).format(v) for v in vids]
        urls += [f"https://example.org/page/{rng.randrange(10**6)}/{i}" for i in range(N_URL_INVALID)]
        rng.shuffle(urls)
        self.urls = urls

        expected = []
        for vid in vids:
            if _transcript_ok(vid):
                expected.append(("yt_" + hashlib.sha256(vid.encode()).hexdigest()[:12],
                                 "youtube_transcript", f"transcript of {vid}",
                                 None, None, (("video_id", vid),)))
            else:
                expected.append(("yta_" + hashlib.sha256(vid.encode()).hexdigest()[:12],
                                 "youtube", f"stt transcript of {vid}",
                                 None, None, (("video_id", vid),)))

        # incoming records; a fixed number are already in the manifest
        manifest_idx = set(rng.sample(range(N_RECORDS), N_MANIFEST_HITS))
        lines, manifest = [], []
        for i in range(N_RECORDS):
            rid = f"rec-{ctx.seed}-{i:05d}"
            st = rng.choice(("youtube_transcript", "youtube", "system_audio"))
            meta = {"lang": rng.choice(("en", "vi")), "n": str(i)}
            bp = f"media/{rid}.wav" if st == "system_audio" else None
            if rng.random() < 0.5:
                segs = [{"start": 0.25 * j, "duration": 0.25 * (1 + rng.randrange(8)),
                         "text": " ".join(rng.choice(_WORDS) for _ in range(1 + rng.randrange(6)))}
                        for j in range(1 + rng.randrange(6))]
                text = None
                flat = "\n".join(s["text"] for s in segs)
                segs_t = tuple((s["start"], s["duration"], s["text"]) for s in segs)
            else:
                segs, segs_t = None, None
                text = flat = " ".join(rng.choice(_WORDS) for _ in range(3 + rng.randrange(20)))
            rec = {"id": rid, "source_type": st, "text": text, "segments": segs,
                   "binary_path": bp, "meta": meta}
            lines.append(json.dumps(rec, ensure_ascii=False))
            if i in manifest_idx:
                manifest.append(json.dumps({"id": rid, "source_type": st}))
            else:
                expected.append((rid, st, flat, segs_t, bp, tuple(sorted(meta.items()))))
        for j in range(N_MALFORMED):
            cut = rng.randrange(5, 40)
            lines.insert(rng.randrange(len(lines) + 1),
                         json.dumps({"id": f"bad-{j}", "text": "x" * 40})[:cut])
        for f in range(N_INPUT_FILES):
            with open(os.path.join(self.src, "incoming", f"part-{f}.jsonl"), "w") as fh:
                fh.write("\n".join(lines[f::N_INPUT_FILES]) + "\n")
        with open(os.path.join(self.src, "manifest", "part-0.jsonl"), "w") as fh:
            fh.write("\n".join(manifest) + "\n")
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.src, "incoming", n))
            for n in os.listdir(os.path.join(self.src, "incoming")))
        self.expected_digest = table_digest(SINK_COLS, expected)
        self.order = ["sink_readback", "stream_drain"]

    def new_pass_input(self, ctx, k: int) -> str:
        d = os.path.join(ctx.run_dir, f"pass-{k}")
        for sub in ("incoming", "manifest"):
            link_tables(os.path.join(self.src, sub), os.path.join(d, sub))
        return d

    # ---- one pass ------------------------------------------------------
    def run_pass(self, ctx, pass_dir: str, layers) -> list[tuple[str, object, float]]:
        spark, tr = ctx.spark, layers.tracer
        sink = os.path.join(pass_dir, "sink")
        out = []
        t0 = time.perf_counter()
        try:
            with tr.span("ingest.read"):
                inc = ingest_model.read_jsonl(spark, os.path.join(pass_dir, "incoming"))
                # the corrupt-record column may not be queried alone
                counts = inc.agg(
                    F.count("id").alias("rows"),
                    F.count("_corrupt_record").alias("corrupt")).collect()[0]
            valid = inc.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
            manifest = ingest_model.read_jsonl(spark, os.path.join(pass_dir, "manifest"))
            new = ingest_model.flatten_segments_text(
                ingest_model.anti_join_manifest(valid, manifest))
            with tr.span("ingest.write"):
                ingest_model.append_jsonl(new.select(*SINK_COLS), sink)
            with tr.span("ingest.collect"):
                collectors.ingest_with_fallback(spark, self.urls, out_dir=sink)
            with tr.span("ingest.readback"):
                back = ingest_model.read_jsonl(spark, sink)
                back_rows = back.collect()
            outcome = (back.columns, back_rows)
        except Exception as e:  # noqa: BLE001
            outcome, counts = e, None
        out.append(("sink_readback", outcome, time.perf_counter() - t0))
        t0 = time.perf_counter()
        try:
            name = f"graftbench_drain_{os.path.basename(pass_dir).replace('-', '_')}"
            with tr.span("stream.drain"):
                q = pipelines.run_to_memory(pipelines.stream_jsonl(spark, sink), name)
                try:
                    q.processAllAvailable()
                    batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
                finally:
                    q.stop()
                stream_rows = spark.table(name).collect()
            outcome = (SINK_COLS, stream_rows)
            layers.note({"stream.batches": batches})
        except Exception as e:  # noqa: BLE001
            outcome = e
        out.append(("stream_drain", outcome, time.perf_counter() - t0))
        if counts is not None:
            written = [n for n in os.listdir(sink) if n.startswith("part-")]
            out_bytes = sum(os.path.getsize(os.path.join(sink, n)) for n in written)
            n_new = sum(1 for r in back_rows if r["id"].startswith("rec-"))
            layers.note({
                "ingest.files_written": len(written),
                "ingest.bytes_written_per_input_byte": out_bytes / self.input_bytes,
                "ingest.skipped_frac": 1 - n_new / counts["rows"] if counts["rows"] else 0.0,
                "ingest.corrupt_rows": counts["corrupt"],
            })
        return out

    def check(self, name: str, outcome) -> None:
        if isinstance(outcome, Exception):
            raise outcome
        cols, rows = outcome
        if name == "sink_readback":
            bad = [r for r in rows if r["_corrupt_record"] is not None]
            if bad:
                raise Failure(f"sink holds {len(bad)} unreadable lines")
        rows = [_norm_row(tuple(r[c] for c in SINK_COLS)) for r in rows]
        got = table_digest(SINK_COLS, rows)
        if got != self.expected_digest:
            raise Failure(f"{name}: digest {got} != expected {self.expected_digest}")


WORKLOADS = {
    "analytics": QueryWorkload("analytics", ANALYTICS, warmup_passes=3, nominal_pass_s=1.6),
    # 48 of the 500 documents: all of them take about 8 s a pass on 4 cores
    "decode": QueryWorkload("decode", DECODE, warmup_passes=1, nominal_pass_s=3.0,
                            doc_limit=48),
    "ingest": IngestWorkload(warmup_passes=4, nominal_pass_s=1.6),
}
