"""Seeded inputs for the benchmark workloads, and their oracle references.

Every input is a pure function of (workload, seed, size). It is generated
with ``transcriptpipe.synth``, written as parquet, and run once through the
single-process ``transcriptpipe.oracle``; the reference outputs are cached
beside the input under ``<cache>/<workload>-s<seed>-<size>/``. A directory
is valid only once its ``meta.json`` exists (written last), so a killed
generation is regenerated rather than half-read.

Workloads:

* ``short_convs`` -- the synth default grammar (4-12 turns, 2% malformed,
  1% unknown tools, 10% raw role codes, no hot conversations).
* ``long_convs`` -- the same grammar, with conversation lengths drawn from a
  Pareto(alpha=0.8, x_min=100) tail clipped at 50,000 turns. Draws are
  stratified (one per quantile band, jittered over the middle tenth of the
  band) so the total size and the share of rows beyond the 2,048-turn cap
  stay nearly the same from seed to seed -- the widest bands near the top
  would otherwise move the total by several percent -- while lengths, order
  and content change.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd

from transcriptpipe import oracle, render, synth

MAX_DOC_BYTES = 8192     # PipeConf default byte cap
MAX_TURNS = 2048         # PipeConf default turn cap

# (workload, size) -> generator parameters. "full" is what the benchmark
# measures; "tiny" is for the smoke test.
SIZES = {
    ("short_convs", "full"): {"n_convs": 13_000},
    ("short_convs", "tiny"): {"n_convs": 300},
    ("long_convs", "full"): {"n_convs": 120},
    ("long_convs", "tiny"): {"n_convs": 6},
}
STREAM_FILES = {"full": 6, "tiny": 3}

LONG_ALPHA = 0.8
LONG_MIN, LONG_MAX = 100, 50_000


def long_lengths(n_convs: int, seed: int) -> list[int]:
    """Stratified heavy-tail conversation lengths, in a seeded order."""
    rng = random.Random(seed)
    lengths = []
    for k in range(n_convs):
        u = (k + rng.uniform(0.45, 0.55)) / n_convs
        lengths.append(min(LONG_MAX, int(LONG_MIN * (1 - u) ** (-1 / LONG_ALPHA))))
    rng.shuffle(lengths)
    return lengths


def _gen_long(n_convs: int, seed: int) -> pd.DataFrame:
    """Same malformed / unknown-tool assignment rule as synth.gen_transcripts."""
    rows: list[dict] = []
    n_mal = max(1, int(n_convs * 0.02))
    for i, n_turns in enumerate(long_lengths(n_convs, seed)):
        kind = (synth.MALFORMED_KINDS[i % len(synth.MALFORMED_KINDS)]
                if i % max(1, n_convs // n_mal) == 0 else None)
        unknown = n_convs > 10 and i % 100 == 7
        rows.extend(synth.gen_conversation(i, seed, hot_turns=n_turns,
                                           malformed_kind=kind,
                                           unknown_tool=unknown))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


def gen_input(workload: str, seed: int, size: str) -> pd.DataFrame:
    params = SIZES[(workload, size)]
    if workload == "short_convs":
        return synth.gen_transcripts(n_convs=params["n_convs"], seed=seed)
    return _gen_long(params["n_convs"], seed)


def _reference(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Oracle docs and error rows. Bodies over the byte cap are the full
    (untrimmed) docs; the check only bounds the engine's trimmed doc."""
    res = oracle.run_pipeline(df.to_dict("records"), max_turns_per_conv=MAX_TURNS)
    docs = pd.DataFrame(res["json_doc"])
    nbytes = docs["doc"].map(lambda d: len(d.encode("utf-8")))
    fits = nbytes <= MAX_DOC_BYTES
    docs["fits"] = fits
    docs["xml"] = [render.xml_from_doc(json.loads(d)) if f else None
                   for d, f in zip(docs["doc"], fits)]
    docs.loc[~fits, "doc"] = None   # never compared, so not kept
    errors = pd.DataFrame(res["error"], columns=["conv_id", "turn_idx",
                                                 "error_code", "text"])
    errors["turn_idx"] = errors["turn_idx"].astype("Int32")
    return docs, errors


def _write_stream_files(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Land the table as parquet files split by ts range (equal-row cuts of
    the ts order), so conversations that straddle a cut wait in state."""
    os.makedirs(out_dir)
    d = df.sort_values(["ts", "conv_id", "turn_idx"], kind="stable")
    step = -(-len(d) // n_files)
    for j in range(n_files):
        d.iloc[j * step:(j + 1) * step].to_parquet(
            os.path.join(out_dir, f"part-{j:03d}.parquet"), index=False)


class Inputs:
    """Paths and counts of one cached (workload, seed, size) input."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "meta.json")) as f:
            self.meta = json.load(f)
        self.table = os.path.join(root, "input.parquet")
        self.stream_dir = os.path.join(root, "stream")
        self.turns = self.meta["turns"]

    def docs(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.root, "ref_docs.parquet"))

    def errors(self) -> pd.DataFrame:
        return pd.read_parquet(os.path.join(self.root, "ref_errors.parquet"))

    def frame(self) -> pd.DataFrame:
        return pd.read_parquet(self.table)


def prepare(cache: str, workload: str, seed: int, size: str) -> Inputs:
    """Generate (or reuse) the input and its oracle reference."""
    root = os.path.join(cache, f"{workload}-s{seed}-{size}")
    if os.path.exists(os.path.join(root, "meta.json")):
        return Inputs(root)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    df = gen_input(workload, seed, size)
    # small row groups so the scan splits across tasks
    df.to_parquet(os.path.join(root, "input.parquet"), index=False,
                  row_group_size=20_000)
    docs, errors = _reference(df)
    docs.to_parquet(os.path.join(root, "ref_docs.parquet"), index=False)
    errors.to_parquet(os.path.join(root, "ref_errors.parquet"), index=False)
    if workload == "short_convs":
        _write_stream_files(df, os.path.join(root, "stream"), STREAM_FILES[size])
    meta = {
        "workload": workload, "seed": seed, "size": size,
        "turns": len(df), "convs": int(df["conv_id"].nunique()),
        "rendered_turns": int((df["turn_idx"] < MAX_TURNS).sum()),
        "docs": len(docs), "errors": len(errors),
    }
    with open(os.path.join(root, "meta.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(root, "meta.json.tmp"), os.path.join(root, "meta.json"))
    return Inputs(root)
