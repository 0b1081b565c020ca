"""Engine code reaches Python workers that cannot import the engine.

A plain SparkSession (no engine confs, no ``--py-files``) started from a
directory outside the repo gives its Python workers no way to import
``interop_spark``: only the driver has the repo on ``sys.path``.
``interop_spark/__init__.py`` registers the package with cloudpickle to
be pickled by value, so every engine helper a UDF or mapInPandas closure
calls ships inside the closure. This test runs each Arrow/mapInPandas
path that calls such helpers (the IVF-PQ scan among them) in exactly
that setting — one subprocess, fresh cwd, ``PYTHONPATH`` without the
repo, ``local[2]`` — and compares
each result with the module-level function or interpreted fold twin
computed in the same script. Without the registration every path fails
on the workers with ``ModuleNotFoundError: No module named
'interop_spark'``.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = r'''
import importlib.util
import io
import struct
import sys
import wave

sys.path.insert(0, sys.argv[1])  # the driver alone sees the repo

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from interop_spark.operators.multimodal import (
    audio_stats, image_dims, parse_image_header, parse_mp4, parse_wav,
    video_meta,
)
from interop_spark.operators.pq import (
    _argmin_code, ivfpq_search, pq_adc_topk, pq_encode, pq_train, subvector,
)
from interop_spark.operators.similarity import (
    _hyperplane, as_double, cosine_sim, cosine_sim_given_norms, l2_norm,
    lsh_bucket, lsh_bucket_udf, nearest_centroid, nearest_centroid_udf,
    pair_cosine_udf, query_cosine_udf, query_vector_literal,
)
from interop_spark.operators.text import bpe_pieces_udf, bpe_word_pieces

spark = SparkSession.builder.master("local[2]").appName("worker-import").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

# Without this the test proves nothing: the workers must not be able to
# import the engine on their own.
importable = spark.range(1).select(
    F.udf(lambda _: importlib.util.find_spec("interop_spark") is not None,
          "boolean")("id")
).first()[0]
assert importable is False, "Python workers can import interop_spark"


def check(name, got, want):
    assert got == want, (name, got, want)
    print("OK", name)


# --- multimodal parsers -------------------------------------------------
png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
       + struct.pack(">IIBBBBB", 7, 5, 8, 2, 0, 0, 0) + b"\x00" * 4)
gif = b"GIF89a" + struct.pack("<HH", 3, 9) + b"\x00" * 6
jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00\xff\xc0"
        + struct.pack(">HBHH", 17, 8, 11, 13) + b"\x00" * 12)
buf = io.BytesIO()
with wave.open(buf, "wb") as w:
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(struct.pack("<8h", 1, -2, 300, -4000, 5, 6, -7, 8))
wav = buf.getvalue()
mvhd = struct.pack(">B3xIIII", 0, 0, 0, 600, 4321)
mp4 = (struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
       + struct.pack(">I", 8 + 8 + len(mvhd)) + b"moov"
       + struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd)
blobs = [png, gif, jpeg, wav, mp4, b"garbage bytes!", None]
media = spark.createDataFrame(
    [(i, None if b is None else bytearray(b)) for i, b in enumerate(blobs)],
    "media_id long, data binary",
)
for name, op, parse, n in (
    ("image_dims", image_dims, parse_image_header, 3),
    ("audio_stats", audio_stats, parse_wav, 6),
    ("video_meta", video_meta, parse_mp4, 4),  # + derived duration_s
):
    rows = {r[0]: tuple(r)[1 : 1 + n] for r in op(media).collect()}
    check(name, [rows[i] for i in range(len(blobs))],
          [parse(b) or (None,) * n for b in blobs])

# --- BPE ------------------------------------------------------------------
words = ["the", "thing", "another", "x", "", None]
got = [r[0] for r in spark.createDataFrame([(w,) for w in words], "w string")
       .select(bpe_pieces_udf()(F.col("w"))).collect()]
want = [None if w is None else " ".join(bpe_word_pieces(w)) for w in words]
check("bpe_pieces_udf", got, want)

# --- Arrow vector scorers ---------------------------------------------------
vecs = [[((i * 7 + j * 3) % 5) - 2 + 0.25 * j for j in range(4)] for i in range(12)]
vdf = spark.createDataFrame(
    [(i, v) for i, v in enumerate(vecs)] + [(90, None), (91, [0.5, 0.25])],
    "vec_id long, embedding array<float>",
)
v = as_double(F.col("embedding"))
valid = F.col("embedding").isNotNull() & (F.size("embedding") == 4)

cbs = pq_train(vdf, m_subspaces=2, k=3, iters=1, dim=4)
fold_codes = F.array(*[
    _argmin_code(as_double(subvector(F.col("embedding"), m, 2)), cb).cast("int")
    for m, cb in enumerate(cbs)
])
want = {r[0]: r[1] for r in vdf.select("vec_id", F.when(valid, fold_codes)).collect()}
got = {r[0]: r[1] for r in pq_encode(vdf, cbs).collect()}
check("pq_encode", got, want)

cents = [(k, [float(x) for x in vecs[k]]) for k in range(3)]
cent_arr = F.array(*[
    F.struct(F.lit(k).cast("bigint").alias("k"), query_vector_literal(c).alias("v"))
    for k, c in cents
])
best_sim = F.array_max(F.transform(
    cent_arr, lambda c: F.round(cosine_sim(v, as_double(c["v"])), 9)))
rows = vdf.select(
    "vec_id",
    nearest_centroid(F.col("embedding"), cent_arr).alias("ref"),
    F.struct(
        nearest_centroid(F.col("embedding"), cent_arr).alias("cell"),
        best_sim.alias("ccos9"),
        l2_norm(v).alias("vn"),
    ).alias("ref_sim"),
    nearest_centroid_udf(cents)(F.col("embedding")).alias("got"),
    nearest_centroid_udf(cents, with_sim=True)(F.col("embedding")).alias("got_sim"),
).collect()
check("nearest_centroid_udf", [r.got for r in rows], [r.ref for r in rows])
check(
    "nearest_centroid_udf(with_sim)",
    [tuple(r.got_sim) for r in rows],
    [tuple(r.ref_sim) if r.ref is not None else (None,) * 3 for r in rows],
)

# every cell probed: the one-pass IVF-PQ scan returns the valid rows'
# ADC ranking, each with its fold-assigned cell
q = [0.5, -1.0, 0.25, 2.0]
cent_df = spark.createDataFrame(cents, "centroid_id long, centroid array<double>")
cell_of = {r.vec_id: r.cell for r in vdf.select(
    "vec_id", nearest_centroid(F.col("embedding"), cent_arr).alias("cell")
).collect()}
check(
    "ivfpq_search",
    [tuple(r) for r in ivfpq_search(vdf, cent_df, cbs, q, k=20, nprobe=3).collect()],
    [(r.vec_id, cell_of[r.vec_id], r.adc_dist)
     for r in pq_adc_topk(pq_encode(vdf.where(valid), cbs), q, cbs, k=20).collect()],
)

qv = as_double(query_vector_literal(q))
rows = vdf.select(
    F.round(cosine_sim_given_norms(v, qv, l2_norm(v), l2_norm(qv)), 6).alias("r6"),
    F.floor(cosine_sim(v, qv) * F.lit(1e9)).cast("bigint").alias("rp"),
    query_cosine_udf(q, round_digits=6)(F.col("embedding")).alias("g6"),
    query_cosine_udf(q, ppb=1_000_000_000)(F.col("embedding")).alias("gp"),
).collect()
check("query_cosine_udf(round_digits)", [r.g6 for r in rows], [r.r6 for r in rows])
check("query_cosine_udf(ppb)", [r.gp for r in rows], [r.rp for r in rows])

pairs = vdf.alias("a").crossJoin(vdf.alias("b")).select(
    F.col("a.embedding").alias("va"), F.col("b.embedding").alias("vb"))
rows = pairs.select(
    F.round(cosine_sim(as_double(F.col("va")), as_double(F.col("vb"))), 6).alias("ref"),
    pair_cosine_udf(6)(F.col("va"), F.col("vb")).alias("got"),
).collect()
check("pair_cosine_udf", [r.got for r in rows], [r.ref for r in rows])

planes = [_hyperplane(i, 4) for i in range(3)]
rows = vdf.select(
    lsh_bucket(F.col("embedding"), 4, 3).alias("ref"),
    lsh_bucket_udf(planes)(F.col("embedding")).alias("got"),
).collect()
check("lsh_bucket_udf", [r.got for r in rows], [r.ref for r in rows])

spark.stop()
print("ALL WORKER PATHS MATCH")
'''


def test_engine_udfs_run_on_workers_without_the_package(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(REPO_ROOT)
    )
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO_ROOT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0, out[-6000:]
    assert "ALL WORKER PATHS MATCH" in proc.stdout, out[-6000:]
