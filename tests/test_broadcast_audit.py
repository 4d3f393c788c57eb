"""Broadcast-hint discipline ledger (r9 verdict item #2).

THE RULE: `F.broadcast(...)` may hint ONLY provably bounded
relations — bounded by a constant independent of corpus size:
literal/config frames, scalar or |types|/|sources|/|days|-grain
rollups, top-k/LIMIT-capped sets, fixed term lists, sketch registers,
two-pass bucket-offset maps, or an operator whose documented contract
requires a broadcast-fit input (operators/joins' salted small side).

Corpus-grain relations (doc/user/customer/order/part/item/node/vocab
maps) must NOT be hinted even when tiny at tested SFs: a hinted
broadcast bypasses the size check and OOMs the driver at 100 TB,
where an unhinted equi-join lets Catalyst statics or AQE broadcast
exactly when the relation actually fits. The r10 sweep removed every
such hint (q343 doc→source map, q76 doc-id set, q180 degree maps,
q205 core membership, q75 eval grams, q300/q330 vocab-grain models,
q112 dim keys, q260 tombstone cascade, q27/q292 part dim, the five
customer-dim projections, q119 member set, q230 item counts) —
audited list in SCALE_NOTES.md round-10.

This test is the enforcement: the per-file hint counts below are the
audit ledger. Adding (or removing) an `F.broadcast(` anywhere in the
package fails it until the new site is audited against the rule and
the ledger is updated in the same change.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "g_etl_spark"

# file (relative to g_etl_spark/) -> audited F.broadcast(...) EXECUTABLE
# call sites (AST Call nodes — docstring/comment mentions don't count,
# so a comment edit can never absorb a new hint)
AUDITED_HINT_COUNTS = {
    "operators/joins.py": 2,     # salted-join small side: documented broadcast-fit contract
    "operators/ranking.py": 5,   # |buckets| offset maps + 1-row totals
    "operators/sampling.py": 1,  # |strata| rate map
    "operators/stats.py": 6,     # scalar aggs + |folds| model rows
    "queries/dedup.py": 24,      # scalars, band index literals, |sources| rollups, planted-truth 1-rows, q385's 3 scalar count rows, q421's 1-row pair-count scalars (2 sites), q456's 6-row threshold grid, q474's 2-row leak-scheme frame
    "queries/grid.py": 11,       # polyfill cell sets, POI literals, scalar thresholds, q376's fixed query-ring cell set + 2 scalar count rows, q463's 144-row literal range frame + 1-row box/split totals (3 sites)
    "queries/relational.py": 125, # nation/region dims, scalar aggs, bounded rollups, bucket offsets, q369's 3 per-relation scalar stat rows, q377's 1-row NDV frame, q380's 100-row literal grid, q382's 1-row min/max extent, q387's rank/boundary/total frames (≤7 rows), q388's 1-row byte stats, q389's 1-row median, q391's 1-row global moments, q392's 1-row fit, q393's 4-row band frame + |bands| global dist + scalar n, q396's 1-row totals, q405's 1-row side fit, q407's ≤40-row vnode ring + 1-row movement totals, q409's 1-row dict-page sums, q415's 1-row group totals, q417's 1-row salt fallback + 1-row pick, q423's 3 per-relation scalar stat rows + 3 one-row measured-edge-cardinality scalars, q428's 2 scalar norm rows + 2 |types|-grain strength maps, q438's 3-row min-cell frame, q443's |types|-grain strength maps + 1-row nu/tt/norm frames (5 sites), q447's |types|-grain maps + 1-row gamma/hw/norm frames (7 sites), q449's 1-row type-count + |types|-grain glob/outdeg frames (2 sites) (q442/q450 add no hints: q442's stats row is a bounded collect); q455's |types|-grain strength map + 1-row norm frame (2 sites); q470's 1-row max-ts + 1-row duration-total scalars (2 sites); q471's 1-row max-ts + 1-row cohort-total scalars (2 sites); q476's 1-row n/base scalars + |k|-row curve base (3 sites)
    "queries/multimodal.py": 1,  # q406's 1-row pad-ratio scalar
    "queries/sampling.py": 23,    # scalar totals, |sources| weights, literal index frames, q355 scalar budget rows, q413's |sources|-grain budget/λ scalars (4 sites), q425's epoch literal frame + 4 scalar budget/λ rows, q429's 1-row runs-test moments, q464's 1-row token-total/global-CE/norm scalars (3 sites), q475's |τ|-row total/entropy frames (2 sites)
    "queries/similarity.py": 38, # k centroids/codebooks, top-k rows, scalar stats, |dims| rollups, q345/q351 scalar rows, q350's LIMIT-20 pair side, q367's k-row centroids + nprobe(≤4)-row probe sets + scalar hit rows, q371's 8-row + 5-row codebooks + 8-row subspace index, q381's 10-row anchor slice, q411's k-row centroids, q465/q473's k-row centroid scaffolds
    "queries/sketches.py": 29,   # hash-param literals, register/counter frames, |sources|² pairs, MG cap-bounded candidates, q352's |sources|-bit maps + ≤2^|sources| mask rollup
    "queries/streaming_equiv.py": 19,  # 25-row nation dim; q426/q439's shared timeline-grain emission map (|6h windows|x|sources| — |days|-class bound); q446's 4-row gwm/gprev/tot maps, timeline-grain winlife, 1-row peak, 2-row source skel (6 sites); q458's 5-row delay grid (2 sites), |grid|x|chunks| gwm/gprev maps, 4-row restart frame (4 sites); q461's same bounded frames under max policy + |grid|-row final-wm frame (6 sites)
    "queries/text.py": 66,       # fixed term lists, scalar stats, |sources| rollups, q354 1-row type total, q375's 1-row token-total frame, q383's 1-row best-pair argmax, q394's |terms| df + 1-row stats + 1-row feedback count, q397's 1-row baseline count, q398's 2 scalar node counts, q410's 1-row vocab count + 1-row median cutoff, q418's scalar token-total + N_1 rows, q424's 2 scalar piece-totals + 2 scalar likelihoods + the ≤(26+120)-row candidate vocab (bounded by construction), q432's 1-row cutoff + 1-row κ totals, q452's |langs| model-lang list + |langs|-row vocab + |langs|²-row self/best frames (4 sites), q453's 1-row best-pair argmax + 2 scalar token-count frames per emit (3 sites), q454's |batches|/|sources|/1-row share frames (3 sites), q445's vocab-grain costs via _ulm_estep + 1-row likelihood frames (2 sites)
    "queries/windows.py": 77,    # per-type/dow/day/priority rollups, scalars, triangular offsets, q346's ≤16-row mask/subset tables, q399's 1-row n/auc/s10/s01 moments (7 sites), q408's 1-row total, q420's 1-row global mean + 1-row Brier scalar
    "query.py": 2,               # polygon cell sets (bounded by query area)
}


def _count_hints(source: str) -> int:
    """Executable `F.broadcast(...)` call sites only: AST Call nodes
    whose func is the attribute `broadcast` on the name `F`.
    Docstrings, comments, and string literals never count (r10
    verdict: the textual count let a comment edit silently absorb a
    real new hint)."""
    n = 0
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "broadcast"
                and isinstance(f.value, ast.Name)
                and f.value.id == "F"
            ):
                n += 1
    return n


def test_broadcast_hints_match_audited_ledger():
    actual = {}
    for p in sorted(PKG.rglob("*.py")):
        n = _count_hints(p.read_text())
        if n:
            actual[str(p.relative_to(PKG))] = n
    assert actual == AUDITED_HINT_COUNTS, (
        "F.broadcast(...) call sites changed — audit each new/moved "
        "site against the bounded-relation rule in this file's "
        f"docstring, then update the ledger. diff: actual={actual}"
    )


def test_hint_counter_ignores_comments_and_docstrings():
    """Tripwire for the counter itself: a hint mentioned in a comment,
    a docstring, or a string literal contributes ZERO; only the real
    call counts — and an aliased-module call (M.broadcast) or a bare
    broadcast(...) import-style call is NOT silently counted as F's."""
    fixture = (
        '"""docstring says F.broadcast(df) twice: F.broadcast(x)."""\n'
        "# comment: F.broadcast(dim)\n"
        "s = 'F.broadcast(lit)'\n"
        "y = F.broadcast(real_df)\n"
        "z = M.broadcast(other)\n"
    )
    assert _count_hints(fixture) == 1
    assert _count_hints('"""only F.broadcast(doc) in prose."""\n') == 0
