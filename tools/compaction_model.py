#!/usr/bin/env python3
"""Model of range-table compaction in graft.chain.TableStore.appendRange.

Usage: python3 tools/compaction_model.py

Replays append sequences against two merge policies and prints, for each,
the peak and final live dir counts and the rows rewritten per row. A dir is
(lo, hi, rows); each append runs at most one merge before it lands, and the
newest 64 dirs (by lo) are never merged, as in the store.

  - span:    a run of 8 adjacent dirs whose spans share one tier
             (tier k spans 8^k to 8^(k+1) values), oldest run first;
  - aligned: the dirs starting in an aligned block of 8^k values
             (k >= 1) that lies wholly below the newest 64 dirs, once
             there are 8 or more of them, lowest level first (the policy
             TableStore uses).

Inputs: uniform per-block appends; head-follow where 6 % of appends are
8-40-block catch-up chunks and 4 % are 2-3-block reorg re-appends; a sparse
table (one-block dirs in 15 % of blocks, as a balance table whose blocks
mostly carry no subscribed transfer).
"""
import random

FAN_IN = 8
NEWEST = 64


def span_tier(d):
    s, t = d[1] - d[0] + 1, 0
    while s >= FAN_IN:
        s //= FAN_IN
        t += 1
    return t


def span_policy(dirs):
    older = sorted(dirs)[:-NEWEST] if len(dirs) > NEWEST else []
    for i in range(len(older) - FAN_IN + 1):
        run = older[i:i + FAN_IN]
        if all(span_tier(d) == span_tier(run[0]) for d in run):
            return run
    return None


def aligned_policy(dirs):
    by_lo = sorted(dirs)
    if len(by_lo) <= NEWEST:
        return None
    older, horizon = by_lo[:-NEWEST], by_lo[-NEWEST][0]
    w = FAN_IN
    while w < 2 ** 63:
        blocks = {}
        for d in older:
            blocks.setdefault(d[0] // w, []).append(d)
        for b in sorted(blocks):
            if b < horizon // w and len(blocks[b]) >= FAN_IN:
                return blocks[b]
        w *= FAN_IN
    return None


def replay(policy, appends):
    dirs, peak, rewritten, rows = set(), 0, 0, 0
    for lo, hi, n in appends:
        run = policy(dirs)
        if run:
            dirs -= set(run)
            dirs.add((min(d[0] for d in run), max(d[1] for d in run), sum(d[2] for d in run)))
            rewritten += sum(d[2] for d in run)
        dirs.add((lo, hi, n))
        rows += n
        peak = max(peak, len(dirs))
    return peak, len(dirs), rewritten / rows


def uniform(n):
    return [(b, b, 1) for b in range(n)]


def head_follow(n, rnd):
    out, lo = [], 0
    for _ in range(n):
        x = rnd.random()
        s = rnd.randint(8, 40) if x < 0.06 else rnd.randint(2, 3) if x < 0.10 else 1
        out.append((lo, lo + s - 1, s))
        lo += s
    return out


def sparse(n, p, rnd):
    out, b = [], 0
    while len(out) < n:
        if rnd.random() < p:
            out.append((b, b, 1))
        b += 1
    return out


def main():
    inputs = [("uniform, 1,000 appends", uniform(1000)),
              ("head-follow with chunks, 10,000 appends", head_follow(10000, random.Random(1))),
              ("sparse 15 %, 5,000 appends", sparse(5000, 0.15, random.Random(2)))]
    for name, appends in inputs:
        for pname, policy in [("span", span_policy), ("aligned", aligned_policy)]:
            peak, final, rw = replay(policy, appends)
            print(f"{name:42s} {pname:8s} peak {peak:5d}  final {final:5d}  "
                  f"rewrites/row {rw:.2f}")


if __name__ == "__main__":
    main()
