#!/usr/bin/env python3
"""SCALE_probe.json — the decade-probe evidence, machine-readable
(round-10 verdict ask #4).

The sf1 -> sf10 measurements were spread across hand-tabulated prose
tables in BASELINE.md; this script maintains one append-only JSON file
  {query: {sf1_s, sf10_s, ratio, verdict, round}}
so each round's probe APPENDS rows (or adds a re-measurement under
"remeasured" when a fix changes an existing row) and the round-close
ritual can diff it.

Modes:
  extract — one-time reconstruction from BASELINE.md's 5-col decade
            tables (first occurrence per query keeps the row; later
            occurrences land in "remeasured" history).
  add     — append one row: add <round> <query> <sf1_s> <sf10_s> <verdict...>
            (an existing query gets the new row pushed into its
            "remeasured" list, keeping the original visible).
"""
import json, re, sys, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SP = os.path.join(ROOT, "SCALE_probe.json")


def load():
    return json.load(open(SP)) if os.path.exists(SP) else {}


def save(d):
    json.dump(dict(sorted(d.items())), open(SP, "w"), indent=1)


def mkrow(sf1, sf10, verdict, rnd):
    return {"sf1_s": sf1, "sf10_s": sf10,
            "ratio": round(sf10 / sf1, 2) if sf1 else None,
            "verdict": verdict, "round": rnd}


def extract():
    out = load()
    rnd = None
    for line in open(os.path.join(ROOT, "BASELINE.md")):
        m = re.search(r"[Rr]ound[- ]?(\d+) decade probe", line)
        if m:
            rnd = int(m.group(1))
        cells = [c.strip() for c in line.split("|")]
        if len(cells) == 7 and re.match(r"^q\d+_", cells[1]) and rnd:
            try:
                sf1, sf10 = float(cells[2]), float(cells[3])
            except ValueError:
                continue
            row = mkrow(sf1, sf10, cells[5], rnd)
            q = cells[1]
            if q not in out:
                out[q] = row
            elif (row["sf1_s"], row["sf10_s"]) != (out[q]["sf1_s"], out[q]["sf10_s"]):
                out[q].setdefault("remeasured", []).append(row)
    save(out)
    print(f"{len(out)} probe rows; rounds: "
          f"{sorted({r['round'] for r in out.values()})}")


def add(rnd, q, sf1, sf10, verdict):
    out = load()
    row = mkrow(sf1, sf10, verdict, rnd)
    if q in out:
        out[q].setdefault("remeasured", []).append(row)
    else:
        out[q] = row
    save(out)
    print(f"{q}: ratio {row['ratio']}x (round {rnd})")


def addb(rnd, q, sf1, sf10, verdict):
    """Second probe series (round-13, verdict ask #3): the BOUNDED-
    cluster probe (gen_scale_probe.py mode=bounded — dup rate ~5%,
    max clique 4, all other replica text genuinely novel). Stored
    under key "bounded" next to the original clique-mode row so the
    two series stay diffable per query."""
    out = load()
    row = mkrow(sf1, sf10, verdict, rnd)
    if q in out and "bounded" in out[q]:
        out[q].setdefault("bounded_remeasured", []).append(row)
    elif q in out:
        out[q]["bounded"] = row
    else:
        out[q] = {"bounded": row}
    save(out)
    print(f"{q} [bounded]: ratio {row['ratio']}x (round {rnd})")


def addd(rnd, q, x1, x10, verdict):
    """Third probe series (round-14, verdict ask #7): the scaled-
    DICTIONARY probe (graft.Probe q298_dict_1x q298_dict_10x q299_grams_1x
    q299_grams_10x — corpus FIXED, vocabulary /
    benchmark-gram set grown ~10x), stored under key "dict" as
    {x1_s, x10_s, ratio, ...} so the dictionary term's bend is
    recorded next to the corpus-growth series.

    Rejects non-positive inputs (r14 ADVICE: the dictionary probe used to
    emit a -1.0 failure sentinel; a failed measurement must never become a
    recorded ratio — graft.Probe prints null and exits nonzero, and
    this guard catches any stale sentinel fed by hand)."""
    if x1 <= 0 or x10 <= 0:
        sys.exit(f"addd: non-positive measurement ({x1}, {x10}) — "
                 f"failed probes are not recordable")
    out = load()
    row = {"x1_s": x1, "x10_s": x10,
           "ratio": round(x10 / x1, 2) if x1 else None,
           "verdict": verdict, "round": rnd}
    if q in out and "dict" in out[q]:
        out[q].setdefault("dict_remeasured", []).append(row)
    elif q in out:
        out[q]["dict"] = row
    else:
        out[q] = {"dict": row}
    save(out)
    print(f"{q} [dict]: ratio {row['ratio']}x (round {rnd})")


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "extract":
        extract()
    elif len(sys.argv) >= 6 and sys.argv[1] == "add":
        add(int(sys.argv[2]), sys.argv[3], float(sys.argv[4]),
            float(sys.argv[5]), " ".join(sys.argv[6:]))
    elif len(sys.argv) >= 6 and sys.argv[1] == "addb":
        addb(int(sys.argv[2]), sys.argv[3], float(sys.argv[4]),
             float(sys.argv[5]), " ".join(sys.argv[6:]))
    elif len(sys.argv) >= 6 and sys.argv[1] == "addd":
        addd(int(sys.argv[2]), sys.argv[3], float(sys.argv[4]),
             float(sys.argv[5]), " ".join(sys.argv[6:]))
    else:
        sys.exit(__doc__)
