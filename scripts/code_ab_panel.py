"""Interleaved CODE-version A/B over a fixed query panel (VERDICT r13
task 2): separate host ambient from code regression for the r13 record's
+23.6 % total vs the r12 best (662cf79).

Protocol (the sig_strategy_ab.py discipline, lifted to whole-tree arms):
fresh subprocess + fresh Spark session per pass, arms strictly
alternating with the leading arm swapped every pair (H,O then O,H ...),
so slow ambient drift cancels pairwise; per-query statistic is
min-of-samples per arm (least-contended sample) plus the median of
adjacent-pair ratios. A pairwise median ratio ≈ 1.0 across the panel
says HOST (the two trees run the same speed when measured seconds
apart); a consistent >1 ratio on specific queries says CODE and names
the queries.

Usage::

    python scripts/code_ab_panel.py --other <checkout of the old commit> \
        --out <record.json> [--pairs 5] [--sf-dir <tables dir>]

``--out`` is required: the committed ``scripts/ab_*.json`` records are
evidence for past claims, and a default pointing at one of them would
overwrite it on every run.

The panel spans the families the r13 record inflated most (pipeline_*,
stream_sliding_*, retrieval/text scoring, sim_tf blocked cosine) plus
heavier stable controls — every name exists in both registries.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ~20 queries: the 15 most-inflated r13-vs-r12best rows with old median
# >= 0.17 s (ratios 1.7x-3.4x, computed from the two committed records)
# + 5 controls that held ~flat, for the "uniform vs selective" read.
PANEL = [
    "pipeline_decontaminate",
    "pipeline_bpe_first_merge",
    "pipeline_domain_mix",
    "pipeline_corpus_shuffle",
    "retrieval_query_likelihood",
    "text_tokenizer_fertility",
    "stream_sliding_counts_append",
    "stream_sliding_counts",
    "stream_stream_join",
    "sim_tf_cosine_blocked",
    "text_bigram_logprob",
    "text_ngram_novelty",
    "events_hourly_gap_fill",
    "scale_bucketed_cell_manifest",
    "text_tfidf_top_terms",
    # controls (r13/r12best ratio ~0.9-1.1 in the committed records)
    "pricing_summary",
    "dedup_cdc_chunking",
    "dedup_embedding_cosine",
    "text_lang_trigram_similarity",
    "agg_percentiles",
]


def _one_pass(repo: str, sf_dir: str, queries: list[str]) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "panel_pass.py"),
            "--repo",
            repo,
            "--sf-dir",
            sf_dir,
            "--queries",
            ",".join(queries),
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"panel pass failed in {repo}:\n{out.stderr[-2000:]}"
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--other", required=True, help="worktree of the old commit")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True, help="path of the JSON record to write")
    ap.add_argument("--panel", default=None, help="comma-separated override")
    args = ap.parse_args()

    panel = args.panel.split(",") if args.panel else PANEL
    arms = {"head": REPO, "old": args.other}
    samples: dict[str, dict[str, list[float]]] = {
        a: {q: [] for q in panel} for a in arms
    }
    ambients: dict[str, list[dict]] = {a: [] for a in arms}

    for i in range(args.pairs):
        order = ["head", "old"] if i % 2 == 0 else ["old", "head"]
        for arm in order:
            rec = _one_pass(arms[arm], args.sf_dir, panel)
            for q, s in rec["queries"].items():
                samples[arm][q].append(s)
            ambients[arm].append(
                {"start": rec["ambient_start"], "end": rec["ambient_end"]}
            )
            print(
                f"pass {i + 1}/{args.pairs} {arm:4s}: "
                f"panel_sum={sum(rec['queries'].values()):.2f}s "
                f"cpu={rec['ambient_start']['cpu']:.3f} "
                f"membw={rec['ambient_start']['membw']:.3f}",
                flush=True,
            )

    per_query = {}
    for q in panel:
        h, o = samples["head"][q], samples["old"][q]
        pair_ratios = [round(a / b, 4) for a, b in zip(h, o)]
        per_query[q] = {
            "head_min": round(min(h), 4),
            "old_min": round(min(o), 4),
            "min_ratio": round(min(h) / min(o), 4),
            "head_samples": h,
            "old_samples": o,
            "pairwise_median_ratio": round(statistics.median(pair_ratios), 4),
        }
    min_ratios = [v["min_ratio"] for v in per_query.values()]
    head_total = sum(v["head_min"] for v in per_query.values())
    old_total = sum(v["old_min"] for v in per_query.values())
    verdict = {
        "panel_median_min_ratio": round(statistics.median(min_ratios), 4),
        "panel_head_total_min": round(head_total, 4),
        "panel_old_total_min": round(old_total, 4),
        "panel_total_ratio": round(head_total / old_total, 4),
    }
    record = {
        "protocol": "interleaved fresh-session pairs, leading arm swapped "
        "per pair, min-of-samples",
        "pairs": args.pairs,
        "sf_dir": args.sf_dir,
        # each arm records its commit AND whether the tree was dirty when
        # measured (ADVICE r16: ab_heaps_r16.json stamped commit 72416b2 for
        # a head arm that was actually uncommitted working-tree code — a
        # reader checking out that commit could not reproduce the arm). A
        # non-empty `dirty` means the arm's code is NOT the stamped commit.
        "arms": {
            "head": {"commit": _git_rev(REPO), "dirty": _git_dirty(REPO)},
            "old": {
                "commit": _git_rev(args.other),
                "dirty": _git_dirty(args.other),
            },
        },
        "panel": panel,
        "per_query": per_query,
        "ambients": ambients,
        **verdict,
    }
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(verdict))
    print(f"record -> {args.out}")


def _git_dirty(path: str) -> bool:
    """True when the worktree has uncommitted changes — the stamped commit
    does not describe the measured code (ADVICE r16)."""
    return bool(
        subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=path,
            capture_output=True,
            text=True,
        ).stdout.strip()
    )


def _git_rev(path: str) -> str:
    return (
        subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=path,
            capture_output=True,
            text=True,
        ).stdout.strip()
        or path
    )


if __name__ == "__main__":
    main()
