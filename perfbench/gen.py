"""Seeded benchmark inputs, drawn with the calibration of
``scripts/scale_bench.py``.

``scale_bench.generate`` calibrates against the sf0.1 test fixture at
generation time. The benchmark may read only its own checkout, so that
calibration (``scale_bench._calibrate`` plus the per-label embedding
Gaussians ``generate`` fits) is frozen once into ``calibration.json``:

    python3 perfbench/gen.py --freeze /path/to/sf0.1

The draws below follow ``scale_bench.generate`` step for step and reuse its
near-dup contract (``_append_dup``) and its part-file layout
(``_write_dataset``); only the seed and the row counts are parameters. The
same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CALIBRATION = HERE / "calibration.json"
sys.path.insert(0, str(ROOT / "scripts"))


def _scale_bench():
    import scale_bench

    return scale_bench


def load_calibration(path: Path = CALIBRATION) -> dict:
    with open(path) as f:
        return json.load(f)


def freeze_calibration(base_dir: str, path: Path = CALIBRATION) -> dict:
    """Measure the base fixture with scale_bench's own calibration and
    write the parameters the generators below need."""
    import duckdb
    import numpy as np

    os.environ["SPARK_GRAFT_SCALE_BASE"] = base_dir
    sb = _scale_bench()
    con = duckdb.connect()
    cal = sb._calibrate(con)
    hist: dict[int, int] = {}
    for t in cal["tok_counts"]:
        hist[t] = hist.get(t, 0) + 1
    by_label: dict[int, list] = {}
    for lab, v in con.sql(
        f"select label, embedding from '{base_dir}/embeddings.parquet'"
    ).fetchall():
        by_label.setdefault(lab, []).append(v)
    out = {
        "source": "scale_bench._calibrate over the sf0.1 test fixture",
        "p_dup": cal["p_dup"],
        "vocab": cal["vocab"],
        "word_counts": cal["word_counts"],
        "tok_count_hist": [[t, c] for t, c in sorted(hist.items())],
        "langs": [list(x) for x in cal["langs"]],
        "sources": [s for s, _ in cal["sources"]],
        "labels": [list(x) for x in cal["labels"]],
        "label_gauss": {
            str(lab): {
                "mean": np.stack(vs).mean(0).tolist(),
                "std": np.stack(vs).std(0).tolist(),
            }
            for lab, vs in sorted(by_label.items())
        },
    }
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return out


def documents_table(cal: dict, seed: int, n: int):
    """n documents: scale_bench.generate's document draw with `seed`."""
    import numpy as np
    import pyarrow as pa

    sb = _scale_bench()
    rng = np.random.default_rng([seed, 0])
    vocab = np.array(cal["vocab"])
    wp = np.array(cal["word_counts"], dtype=float)
    wp /= wp.sum()
    toks = np.repeat(
        [t for t, _ in cal["tok_count_hist"]],
        [c for _, c in cal["tok_count_hist"]],
    )
    lang_names = [lang for lang, _ in cal["langs"]]
    lang_p = np.array([c for _, c in cal["langs"]], dtype=float)
    lang_p /= lang_p.sum()
    src_names = cal["sources"]

    n_tok = rng.choice(toks, size=n)
    dup_flags = rng.random(n) < cal["p_dup"]
    texts: list[str] = []
    for i in range(n):
        if dup_flags[i] and i > 0:
            sb._append_dup(texts, rng, i)
        else:
            texts.append(
                " ".join(vocab[rng.choice(len(vocab), size=n_tok[i], p=wp)])
            )
    return pa.table({
        "doc_id": pa.array(range(n), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            [lang_names[j] for j in rng.choice(len(lang_names), n, p=lang_p)]
        ),
        "source": pa.array(
            [src_names[j] for j in rng.integers(0, len(src_names), n)]
        ),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(cal: dict, seed: int, m: int):
    """m embeddings from the per-label Gaussians, labels drawn with the
    base fixture's label mix (scale_bench.generate's embedding draw)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    lab_names = [lab for lab, _ in cal["labels"]]
    lab_p = np.array([c for _, c in cal["labels"]], dtype=float)
    lab_p /= lab_p.sum()
    labels = [lab_names[j] for j in rng.choice(len(lab_names), m, p=lab_p)]
    gauss = {
        int(k): (np.array(v["mean"]), np.array(v["std"]))
        for k, v in cal["label_gauss"].items()
    }
    dim = len(next(iter(gauss.values()))[0])
    vecs = np.empty((m, dim), dtype=np.float32)
    for i, lab in enumerate(labels):
        mu, sd = gauss[lab]
        vecs[i] = mu + rng.standard_normal(dim) * sd
    return pa.table({
        "vec_id": pa.array(range(m), type=pa.int64()),
        "embedding": pa.array(vecs.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


def write_dataset(table, dest: Path) -> int:
    """Write `table` in scale_bench's part-file layout; return the bytes
    written."""
    _scale_bench()._write_dataset(table, dest)
    return sum(p.stat().st_size for p in dest.glob("*.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--freeze":
        sys.exit("usage: python3 perfbench/gen.py --freeze BASE_SF_DIR")
    freeze_calibration(sys.argv[2])
    print(f"wrote {CALIBRATION}")
