#!/usr/bin/env python3
"""Generate the close-note coverage line FROM the committed artifacts
(VERDICT r12 #8: typed counts drifted twice — r11 "269 vs 268", r12
"286 vs 285" — so the number is now derived, never typed).

Usage: python3 tools/counts.py <verifyOutDir> [correctness_full.json] [run.log]

Prints: total gated queries = len(oracle_sql_full.json) + the by-design
signature rows (queries Verify ran that have NO oracle entry), the
ok/fail split from the correctness artifact if given (pass "" to skip
it), and — when a log is given — the ScalaTest battery count parsed from
its summary line (VERDICT r13 #2: the hand-typed test count drifted after
a post-close addendum; this derives it from the run itself) and the
log's WARN line count with its three largest sources, so log-noise
figures are derived the same way. The log may be an `sbt test` log or a
Verify/Bench run's output.
"""
import collections, json, os, re, sys


def test_counts(log_path):
    """Parse 'Tests: succeeded N, failed M, ...' ScalaTest summary lines
    (one per aggregated run) and return (succeeded, failed) totals of the
    LAST summary in the log (the final aggregate of `sbt test`)."""
    pat = re.compile(r"Tests: succeeded (\d+), failed (\d+)")
    last = None
    for line in open(log_path, errors="replace"):
        m = pat.search(line)
        if m:
            last = (int(m.group(1)), int(m.group(2)))
    return last


def warn_counts(log_path, top=3):
    """WARN lines in a Spark log (log4j layout `... WARN <Logger>: msg`)
    and the `top` loggers that emitted most of them."""
    pat = re.compile(r"\bWARN (\S+?):")
    by_src = collections.Counter()
    for line in open(log_path, errors="replace"):
        m = pat.search(line)
        if m:
            by_src[m.group(1)] += 1
    return sum(by_src.values()), by_src.most_common(top)


def main(out_dir, corr=None, test_log=None):
    full = json.load(open(f"{out_dir}/oracle_sql_full.json"))
    # signature rows = query output dirs Verify produced with no oracle
    ran = sorted(d for d in os.listdir(out_dir)
                 if os.path.isdir(os.path.join(out_dir, d)))
    sig = [q for q in ran if q not in full]
    print(f"oracled queries: {len(full)}")
    print(f"signature-only rows ({len(sig)}): {', '.join(sig)}")
    print(f"TOTAL gated queries: {len(full) + len(sig)}")
    if corr:
        c = json.load(open(corr))
        print(f"correctness artifact: {c['n_ok']} ok, {c['n_fail']} fail "
              f"of {c['n_oracled']} oracled")
    if test_log:
        tc = test_counts(test_log)
        if tc is None:
            print(f"test battery: NO ScalaTest summary found in {test_log}")
        else:
            print(f"test battery: {tc[0]}/{tc[0] + tc[1]} green "
                  f"({tc[1]} failed)")
        n, top = warn_counts(test_log)
        print(f"WARN lines: {n}; top sources: " +
              ", ".join(f"{src} {k}" for src, k in top))


if __name__ == "__main__":
    main(sys.argv[1],
         sys.argv[2] if len(sys.argv) > 2 else None,
         sys.argv[3] if len(sys.argv) > 3 else None)
