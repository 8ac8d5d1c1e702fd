"""Layer probes that run outside Spark, in ``--trace 1`` runs only.

- Per-doc decode kernels of ``operators.multimodal``, called directly:
  each kernel's input is encoded first (untimed) from a doc index, with
  the same stream shapes the decode gates build, then the decode call is
  timed per doc. The figure is the median ms per doc.
- The import cost of the operator registry in a fresh interpreter, which
  is what every Python worker pays for the decode gates.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import numpy as np

from input_data_pipeline_spark.operators import multimodal as mm

DOCS_PER_KERNEL = 12


def _mp3_pcm(d: int) -> bytes:
    st = 7 + d % 5

    def silent():
        return {"is": [0] * 576, "global_gain": 210, "scalefac": [0] * 21,
                "big_values": 0, "scalefac_scale": 1, "scalefac_compress": 0}

    def active(gi):
        is_vals = [0] * 576
        for i in range(0, 480, st):
            is_vals[i] = 1 if (i // st + d + gi) % 2 == 0 else -1
        return {"is": is_vals, "global_gain": 210 + 4 * ((d + gi) % 6),
                "scalefac": [0] * 21, "big_values": 240,
                "scalefac_scale": 1, "scalefac_compress": 0}

    return mm.encode_mp3_l3([silent(), active(0), active(1), silent()])


def _mpeg1_layer2(d: int) -> bytes:
    frames = []
    for f in range(4):
        alloc = [(1 + (d + sb + f) % 2) if (sb + f) % 3 else 0 for sb in range(30)]
        frames.append({
            "alloc": alloc,
            "scf_idx": [((d + sb) % 63, (d + 2 * sb) % 63, (3 * d + sb) % 63)
                        for sb in range(30)],
            "samples": [[((d + gr + sb) % 3, (gr + f) % 3, (d + sb) % 3)
                         if alloc[sb] else (0, 0, 0) for sb in range(30)]
                        for gr in range(12)],
        })
    return mm.encode_mpeg1_layer2(frames, bitrate_index=10, sample_rate=44100)


def _jpeg(d: int) -> bytes:
    w, h = 24 + d % 8, 16 + d % 5
    rows = [[(((7 * d + 5 * r + 3 * c) % 236 + 10),) * 3 for c in range(w)]
            for r in range(h)]
    return mm.encode_jpeg(rows_rgb=rows, quant=1, subsampling="420" if d % 2 else "444")


def _vorbis(d: int) -> bytes:
    plan = mm._vorbis_fixture_plan(d)
    return mm.encode_vorbis(
        plan["frames"], channels=plan["channels"], rate=plan["rate"],
        residue_type=plan["rtype"], coupling=plan["coupling"],
        floor_partitioned=plan["partitioned"],
    )


def _g72x(d: int):
    t = np.arange(4000)
    x = (6000 * np.sin(2 * np.pi * (220 + 10 * d) * t / 8000)).astype(np.int16)
    return mm.g72x_encode(x, "g721")


# kernel -> (input builder, the decode call the gate makes per doc)
KERNELS = {
    "mp3_pcm": (_mp3_pcm, mm.decode_mp3_to_pcm),
    "g72x": (_g72x, lambda codes: mm.g72x_decode(codes, "g721")),
    "jpeg": (_jpeg, lambda blob: mm.decode_media(blob, "image")),
    "vorbis": (_vorbis, lambda blob: mm.decode_media(blob, "audio")),
    "mpeg1_layer2": (_mpeg1_layer2, mm.decode_mpeg1_layer2),
}


def kernel_ms_per_doc(seed: int) -> dict[str, float]:
    out = {}
    for name, (build, decode) in KERNELS.items():
        inputs = [build(seed + d) for d in range(DOCS_PER_KERNEL)]
        decode(inputs[0])  # first call pays lazy table builds
        times = []
        for x in inputs:
            t0 = time.perf_counter()
            decode(x)
            times.append(time.perf_counter() - t0)
        out[f"kernel.{name}.ms_per_doc"] = 1e3 * statistics.median(times)
    return out


_IMPORT_PROBE = (
    "import sys, time\n"
    "t0 = time.perf_counter()\n"
    "import {module}\n"
    "sys.stdout.write(repr(time.perf_counter() - t0))\n"
)


def fresh_import_s(module: str, repeats: int = 3) -> float:
    """Median seconds to import ``module`` in a fresh interpreter (the
    environment, including PYTHONPATH, is inherited)."""
    times = []
    for _ in range(repeats):
        out = subprocess.run(
            [sys.executable, "-c", _IMPORT_PROBE.format(module=module)],
            check=True, capture_output=True, text=True, env=os.environ,
        ).stdout
        times.append(float(out.strip().splitlines()[-1]))
    return statistics.median(times)
