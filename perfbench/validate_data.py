#!/usr/bin/env python3
"""Compare the catalog workload's generated tables with a fixture
directory of the same scale (parquet files named after the tables).

    python3 perfbench/validate_data.py --fixture path/to/sf0.01 --rounds 3

Run it from the repository root. It prints two reports:

1. columns: per table, the schema and row count, and per column the
   distinct count, range and mean (numbers and dates) or the distinct
   count and mean length (strings); per corpus, words per document,
   vocabulary, share of near duplicates, and for the embeddings the
   largest and mean pairwise cosine and the same-label mean cosine;
2. queries: ``run.py --workload catalog`` over both data sets in
   alternation, ``--rounds`` times each, and per query the result rows
   and the median cold and warm times, with the ratio generated/fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import catalog, datagen  # noqa: E402


def _column(name: str, s) -> str:
    if s.dtype.kind in "iuf":
        return f"{name}: {s.nunique()} distinct, {s.min():.6g}..{s.max():.6g}, mean {s.mean():.6g}"
    if s.dtype.kind == "M":
        return f"{name}: {s.nunique()} distinct, {s.min()}..{s.max()}"
    if s.dtype == object and len(s) and isinstance(s.iloc[0], str):
        return f"{name}: {s.nunique()} distinct, mean length {s.str.len().mean():.1f}"
    return f"{name}: (list)"


def _corpus(docs, emb) -> list[str]:
    words = docs["text"].str.split()
    vocab = {w for ws in words for w in ws}
    dup = docs["text"].str.endswith(" dup").mean()
    e = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    cos = e @ e.T
    off = ~np.eye(len(e), dtype=bool)
    lab = emb["label"].to_numpy()
    same = (lab[:, None] == lab[None, :]) & off
    return [
        f"documents: {words.map(len).mean():.1f} words each, vocabulary {len(vocab)}, {dup:.3f} near duplicates",
        f"embeddings: dim {e.shape[1]}, max cosine {cos[off].max():.3f}, mean |cosine| {np.abs(cos[off]).mean():.3f}, "
        f"same-label mean cosine {cos[same].mean():.3f}",
    ]


def column_report(fixture: str, seed: int, sf: float) -> None:
    gen = datagen.tables(seed, sf)
    for t, g in gen.items():
        f = pq.read_table(os.path.join(fixture, f"{t}.parquet"))
        same = f.schema.remove_metadata().equals(g.schema.remove_metadata())
        print(f"{t}: rows fixture {f.num_rows} generated {g.num_rows}, schema {'equal' if same else 'DIFFERS'}")
        fp, gp = f.to_pandas(), g.to_pandas()
        for c in fp.columns:
            print(f"  fixture   {_column(c, fp[c])}")
            print(f"  generated {_column(c, gp[c])}")
    fdocs = pq.read_table(os.path.join(fixture, "documents.parquet")).to_pandas()
    femb = pq.read_table(os.path.join(fixture, "embeddings.parquet")).to_pandas()
    for who, lines in (("fixture", _corpus(fdocs, femb)),
                       ("generated", _corpus(gen["documents"].to_pandas(), gen["embeddings"].to_pandas()))):
        for line in lines:
            print(f"{who:9s} {line}")


def _catalog_run(seed: int, seconds: int, data: str | None) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "catalog",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if data:
        cmd += ["--data", data]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    tag = f"catalog-seed{seed}-trace0" + ("-data" if data else "")
    with open(os.path.join(ROOT, ".perfbench", "results", f"{tag}.json")) as f:
        return json.load(f)


def query_report(fixture: str, seed: int, seconds: int, rounds: int) -> None:
    recs: dict[str, list[dict]] = {"fixture": [], "generated": []}
    for _ in range(rounds):
        recs["fixture"].append(_catalog_run(seed, seconds, fixture))
        recs["generated"].append(_catalog_run(seed, seconds, None))

    def per_query(who: str, pass_pred) -> dict[str, float]:
        ms: dict[str, list[float]] = {}
        for rec in recs[who]:
            for r in rec["runs"]:
                if pass_pred(r["pass"]):
                    ms.setdefault(r["query"], []).append(r["ms"])
        return {q: statistics.median(v) for q, v in ms.items()}

    cold = {w: per_query(w, lambda p: p == 0) for w in recs}
    warm = {w: per_query(w, lambda p: p > 0) for w in recs}
    rows = {w: recs[w][0]["result_rows"] for w in recs}
    print(f"{'query':34s} {'rows fix/gen':>13s} {'cold ms fix/gen':>17s} {'ratio':>6s} {'warm ms fix/gen':>17s} {'ratio':>6s}")
    for q in sorted(catalog.QUERIES):
        print(f"{q:34s} {rows['fixture'].get(q, -1):6d}/{rows['generated'].get(q, -1):<6d} "
              f"{cold['fixture'][q]:8.0f}/{cold['generated'][q]:<8.0f} {cold['generated'][q] / cold['fixture'][q]:6.2f} "
              f"{warm['fixture'][q]:8.0f}/{warm['generated'][q]:<8.0f} {warm['generated'][q] / warm['fixture'][q]:6.2f}")
    for name, d in (("cold", cold), ("warm", warm)):
        tf, tg = sum(d["fixture"].values()) / 1e3, sum(d["generated"].values()) / 1e3
        gf = statistics.geometric_mean(d["fixture"].values())
        gg = statistics.geometric_mean(d["generated"].values())
        ratios = [d["generated"][q] / d["fixture"][q] for q in d["fixture"]]
        print(f"{name}: total {tf:.2f}/{tg:.2f} s, geomean {gf:.0f}/{gg:.0f} ms, "
              f"per-query ratio {min(ratios):.2f}..{max(ratios):.2f}")
    for who in recs:
        print(f"{who}: setup_s {[round(r['setup_s'][0], 2) for r in recs[who]]}, "
              f"failures {sum(len(r['failures']) for r in recs[who])}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--fixture", required=True, help="directory of the fixture's parquet tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--columns-only", action="store_true")
    args = ap.parse_args()
    fixture = os.path.abspath(args.fixture)
    column_report(fixture, args.seed, catalog.SF)
    if not args.columns_only:
        query_report(fixture, args.seed, args.seconds, args.rounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
