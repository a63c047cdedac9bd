"""Output checks against the oracle reference (workloads.Inputs).

A run passes when every sink holds what the oracle says it must:

* per-sink row counts, and the ``_metrics`` table's row counts;
* the full error sink, row for row;
* each doc's envelope (conv_id, serial, n_turns, error, doc_id);
* doc bodies byte for byte -- JSON and XML -- wherever the oracle models
  them (its full doc fits the byte cap), with ``trimmed`` equal to the
  oracle's turn-cap flag;
* for docs the engine had to trim: the body fits the cap and is flagged.

Each check returns a list of mismatch descriptions; empty means pass.
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow.parquet as pq

from transcriptpipe.sinks import SinkCatalog

from .workloads import MAX_DOC_BYTES, Inputs

MAX_REPORTED = 5


def _rows(paths: list[str]) -> list[dict]:
    if not paths:
        return []
    return pq.ParquetDataset(paths).read().to_pylist()


def _catalog_rows(catalog: SinkCatalog, table: str) -> list[dict]:
    snaps = catalog.manifest(table)["snapshots"]
    if not snaps:
        return []
    return _rows([os.path.join(catalog.root, table, f) for f in snaps[-1]["files"]])


def _err_key(e: tuple) -> tuple:
    conv_id, turn_idx, code, text = e
    return (conv_id, turn_idx is None, turn_idx or 0, code, text or "")


def _docs(got: list[dict], ref, body_col: str, streamed: bool) -> list[str]:
    bad = []
    by_id = {r["conv_id"]: r for r in got}
    if len(by_id) != len(got):
        bad.append(f"{body_col}: duplicate conv_id rows")
    for want in ref.itertuples(index=False):
        g = by_id.get(want.conv_id)
        if g is None:
            bad.append(f"{body_col}: {want.conv_id} missing")
            continue
        env = [("serial", want.serial), ("n_turns", want.n_turns),
               ("error", want.error)]
        if not streamed:
            env.append(("doc_id", want.doc_id))
        for k, v in env:
            if g[k] != v:
                bad.append(f"{body_col}: {want.conv_id} {k} {g[k]!r} != {v!r}")
        if streamed and not g["complete"]:
            bad.append(f"{body_col}: {want.conv_id} flushed incomplete")
        body = g["doc"]
        if want.fits:
            if body != getattr(want, body_col):
                bad.append(f"{body_col}: {want.conv_id} body differs")
            if g["trimmed"] != want.trimmed:
                bad.append(f"{body_col}: {want.conv_id} trimmed "
                           f"{g['trimmed']} != {want.trimmed}")
        else:
            if not g["trimmed"]:
                bad.append(f"{body_col}: {want.conv_id} over cap but not trimmed")
            if body_col == "doc" and len(body.encode("utf-8")) > MAX_DOC_BYTES:
                bad.append(f"{body_col}: {want.conv_id} trimmed doc over cap")
        if len(bad) >= MAX_REPORTED:
            break
    return bad


def check_batch(catalog: SinkCatalog, inputs: Inputs, ref_docs, ref_errors) -> list[str]:
    """Check one committed ``pipeline.run`` against the oracle."""
    want_counts = {"json_doc": len(ref_docs), "xml_doc": len(ref_docs),
                   "error": len(ref_errors), "raw": inputs.turns}
    got = {t: _catalog_rows(catalog, t) for t in ("json_doc", "xml_doc", "error")}
    got_counts = {t: len(rows) for t, rows in got.items()}
    got_counts["raw"] = catalog.total_rows("raw")
    bad = [f"{t}: {got_counts[t]} rows, oracle {n}"
           for t, n in want_counts.items() if got_counts[t] != n]
    metrics = {r["sink"]: r["n_rows"] for r in _catalog_rows(catalog, "_metrics")}
    if metrics != want_counts:
        bad.append(f"_metrics: {metrics} != {want_counts}")
    got_err = sorted(((e["conv_id"], e["turn_idx"], e["error_code"], e["text"])
                      for e in got["error"]), key=_err_key)
    want_err = sorted(((e.conv_id, None if pd.isna(e.turn_idx) else int(e.turn_idx),
                        e.error_code, None if pd.isna(e.text) else e.text)
                       for e in ref_errors.itertuples(index=False)), key=_err_key)
    if got_err != want_err:
        bad.append("error: rows differ from the oracle")
    bad += _docs(got["json_doc"], ref_docs, "doc", streamed=False)
    # the xml sink carries its body in `doc`; compare it to the oracle's xml
    bad += _docs(got["xml_doc"], ref_docs, "xml", streamed=False)
    return bad[:MAX_REPORTED]


def check_stream(out_dir: str, ref_docs) -> list[str]:
    """Check a drained ``streaming.run_stream_once`` sink (JSON docs)."""
    rows = _rows(sorted(glob.glob(os.path.join(out_dir, "*.parquet"))))
    bad = []
    if len(rows) != len(ref_docs):
        bad.append(f"stream: {len(rows)} docs, oracle {len(ref_docs)}")
    bad += _docs(rows, ref_docs, "doc", streamed=True)
    return bad[:MAX_REPORTED]
