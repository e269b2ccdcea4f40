#!/usr/bin/env python3
"""Third-engine oracle audit (r8 review rotation): re-derive a sample of
query keys in pure Python/pandas from the raw fixture parquet and compare
to the engine dumps in <voutDir>. Independent of BOTH Spark and DuckDB —
catches the one correctness risk the main gate cannot see (a subtly-wrong
oracle that agrees with a subtly-wrong engine).

Usage: python3 scripts/third_engine_check.py /root/testdata/sf0.01 /tmp/vout
"""
import sys, math, re
from decimal import Decimal, ROUND_HALF_UP

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sf, vout = sys.argv[1], sys.argv[2]

# SPARK_GRAFT_ONLY=k1,k2 pairs with graft.Verify's key filter for the fast
# dev loop: checks for other keys are skipped entirely (their dumps do not
# exist in a filtered Verify output).
import os
ONLY = {k.strip() for k in os.environ.get("SPARK_GRAFT_ONLY", "").split(",")
        if k.strip()}

def t(name):
    return pq.read_table(f"{sf}/{name}.parquet").to_pandas()

class _SkippedDump:
    """Placeholder returned by dump() for a key outside SPARK_GRAFT_ONLY.
    The only out-of-check() uses of dump() are dtype/column alignment of the
    EXPECTED frame against the engine dump — for a skipped key that check()
    never runs, so: attribute/index access yields more placeholders,
    .columns iterates empty (column reorders no-op), and .dtype is `object`
    (astype(object) is harmless; `dtype != object` guards go False)."""
    def __getattr__(self, name):
        if name == "dtype":
            return object
        if name == "columns":
            return []
        return _SkippedDump()

    def __getitem__(self, k):
        return _SkippedDump()


def dump(key):
    if ONLY and key not in ONLY:
        return _SkippedDump()
    return pq.read_table(f"{vout}/{key}").to_pandas()

def rH(x, places):
    """Spark/DuckDB ROUND is HALF_UP on the shortest decimal repr; python
    round() is banker's and diverges exactly at the .5 boundary (caught
    live twice: corpus_curate at r8, agg_median_by_group at sf0.001)."""
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(repr(float(x))).quantize(
        Decimal(1).scaleb(-places), ROUND_HALF_UP))

def tdiv(a, b):
    """Truncating integer division (toward zero) — matches Spark `div` AND
    DuckDB `//` on negatives, where python's `//` floors (-7//2: python -4,
    both engines -3). Use for any epoch bucketing that could see pre-1970
    timestamps."""
    q = abs(int(a)) // abs(int(b))
    return q if (a >= 0) == (b >= 0) else -q


def ratioR(a, b, places):
    """Integer-exact HALF_UP rounding of the rational a/b (matches the
    engines' r8 ExactMath.ratioRounded / HUGEINT oracle forms)."""
    scale = 10 ** places
    return ((2 * scale * int(a) + int(b)) // (2 * int(b))) / scale

results = []

def check(key, expected: pd.DataFrame):
    if ONLY and key not in ONLY:
        return
    try:
        got = dump(key).reset_index(drop=True)
    except FileNotFoundError:
        # a missing dump is a loud failure, not a crash that hides every
        # later key's result
        results.append((key, False, "no Verify dump"))
        return
    exp = expected.reset_index(drop=True)
    ok = True
    msg = ""
    if list(got.columns) != list(exp.columns):
        ok, msg = False, f"columns {list(got.columns)} vs {list(exp.columns)}"
    elif len(got) != len(exp):
        ok, msg = False, f"rows {len(got)} vs {len(exp)}"
    else:
        for c in exp.columns:
            g, e = got[c], exp[c]
            if g.dtype.kind == "f" or e.dtype.kind == "f":
                same = np.allclose(g.astype(float), e.astype(float),
                                   rtol=0, atol=1e-9, equal_nan=True)
            elif g.dtype == object or e.dtype == object:
                same = (g.fillna("\0nan") == e.fillna("\0nan")).all()
            else:
                # integer family: compare values (and NA positions), not dtype
                # flavors (int32 vs nullable Int32 read back from parquet)
                same = len(g) == len(e) and \
                    (pd.isna(g).values == pd.isna(e).values).all() and \
                    (g.dropna().astype("int64").values ==
                     e.dropna().astype("int64").values).all()
            if not same:
                bad = None
                for i in range(len(g)):
                    gv, ev = g.iloc[i], e.iloc[i]
                    if (pd.isna(gv) and pd.isna(ev)):
                        continue
                    if gv != ev and not (isinstance(gv, float) and abs(gv - ev) <= 1e-9):
                        bad = (i, gv, ev)
                        break
                ok, msg = False, f"col {c} first diff {bad}"
                break
    results.append((key, ok, msg))

ev = t("events")
li = t("lineitem")
od = t("orders")
dc = t("documents")

# filter_time_range: ts >= 2024-01-15 00:00:00 (naive wall == UTC contract)
cut = np.datetime64("2024-01-15T00:00:00")
f = ev[ev.ts >= cut].groupby("event_type").size().reset_index(name="cnt") \
    .sort_values("event_type")
f["cnt"] = f["cnt"].astype("int64")
check("filter_time_range", f)

# agg_value_counts
f = ev.groupby("event_type").size().reset_index(name="cnt").sort_values("event_type")
f["cnt"] = f["cnt"].astype("int64")
check("agg_value_counts", f)

# agg_histogram: floor(o_totalprice/10000)
b = np.floor(od.o_totalprice / 10000).astype("int64")
f = pd.DataFrame({"bucket": b}).groupby("bucket").size().reset_index(name="cnt") \
    .sort_values("bucket")
f["cnt"] = f["cnt"].astype("int64")
check("agg_histogram", f)

# agg_date_granularity
sd = pd.DatetimeIndex(li.l_shipdate)
f = pd.DataFrame({
    "day_count": [np.int64(len(set(sd.day)))],
    "month_count": [np.int64(len(set(sd.month)))],
    "year_count": [np.int64(len(set(sd.year)))]})
check("agg_date_granularity", f)

# agg_median_by_group: linear-interpolated median per o_orderstatus
rows = []
for st, grp in od.groupby("o_orderstatus"):
    rows.append({"o_orderstatus": st,
                 "median_price": rH(float(np.percentile(grp.o_totalprice, 50,
                                                        method="linear")), 2),
                 "n": np.int64(len(grp))})
check("agg_median_by_group", pd.DataFrame(rows).sort_values("o_orderstatus"))

# agg_percentile_exact
f = pd.DataFrame({
    "qty_p10": [rH(float(np.percentile(li.l_quantity, 10, method="linear")), 6)],
    "qty_p50": [rH(float(np.percentile(li.l_quantity, 50, method="linear")), 6)],
    "qty_p90": [rH(float(np.percentile(li.l_quantity, 90, method="linear")), 6)],
    "tax_p50": [rH(float(np.percentile(li.l_tax, 50, method="linear")), 6)]})
check("agg_percentile_exact", f)

# text_tokens: split on single space, empties kept
toks = {}
for s in dc.text:
    for tok in s.split(" "):
        toks[tok] = toks.get(tok, 0) + 1
f = pd.DataFrame(sorted(toks.items()), columns=["token", "cnt"])
f["cnt"] = f["cnt"].astype("int64")
check("text_tokens", f)

# token_count
f = pd.DataFrame({"doc_id": dc.doc_id,
                  "n_tokens": [np.int32(len(s.split(" "))) for s in dc.text]}) \
    .sort_values("doc_id")
f["n_tokens"] = f["n_tokens"].astype("int32")
check("token_count", f)

# sample_stratified: pmod hash vs per-source quota
keep = []
for _, r in dc.iterrows():
    h = ((int(r.doc_id) % 1000003) * 2654435761 + 12345) % 1000003 % 1000
    quota = (len(r.source) * 37) % 300 + 100
    if h < quota:
        keep.append({"doc_id": r.doc_id, "source": r.source})
check("sample_stratified", pd.DataFrame(keep).sort_values("doc_id"))

# json_extract: parse props k via regex, group (incl. null)
kv = []
for p in ev.props:
    m = re.search(r'"k":\s*([0-9]+)', p) if isinstance(p, str) else None
    kv.append(int(m.group(1)) if m else None)
f = pd.DataFrame({"k_val": pd.array(kv, dtype="Int32")})
f = f.groupby("k_val", dropna=False).size().reset_index(name="cnt") \
    .sort_values("k_val", na_position="last")
f["cnt"] = f["cnt"].astype("int64")
check("json_extract", f)

# window_running_sum: per-status cumulative DECIMAL(18,2) sum, keys < 300
o = od.sort_values(["o_orderstatus", "o_orderkey"]).copy()
cents = [Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) for v in o.o_totalprice]
o["p"] = cents
run, acc = [], {}
for st, p in zip(o.o_orderstatus, o.p):
    acc[st] = acc.get(st, Decimal(0)) + p
    run.append(float(acc[st]))
o["running"] = [rH(v, 2) for v in run]
f = o[o.o_orderkey < 300][["o_orderstatus", "o_orderkey", "running"]] \
    .sort_values(["o_orderstatus", "o_orderkey"])
check("window_running_sum", f)

# stream_dedup: first event micros per (user_id, event_type)
us = ev.ts.values.astype("datetime64[us]").astype("int64")
f = pd.DataFrame({"user_id": ev.user_id, "event_type": ev.event_type, "us": us}) \
    .groupby(["user_id", "event_type"], as_index=False)["us"].min() \
    .rename(columns={"us": "first_us"}) \
    .sort_values(["user_id", "event_type"])
f["first_us"] = f["first_us"].astype("int64")
check("stream_dedup", f)

# quality_repetition: duplicate-bigram fraction (docs with <2 tokens: [text])
rows = []
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    g = [r.text] if len(sp) < 2 else [f"{sp[i]} {sp[i+1]}" for i in range(len(sp) - 1)]
    rows.append({"doc_id": r.doc_id,
                 "rep_ratio": ratioR(len(g) - len(set(g)), len(g), 6)})
check("quality_repetition", pd.DataFrame(rows).sort_values("doc_id"))

# token_count_bpe: sum over tokens of 1 + floor(max(len-1,0)/4)
rows = [{"doc_id": r.doc_id,
         "n_units": np.int32(sum(1 + max(len(tk) - 1, 0) // 4
                                 for tk in r.text.split(" ")))}
        for _, r in dc.iterrows()]
f = pd.DataFrame(rows).sort_values("doc_id")
f["n_units"] = f["n_units"].astype("int32")
check("token_count_bpe", f)

# pack_sequences: per-source doc_id-ordered exclusive running token sum
d = dc.copy()
d["n_tok"] = [np.int32(len(s.split(" "))) for s in d.text]
d = d.sort_values(["source", "doc_id"])
offs, acc = [], {}
for src, n in zip(d.source, d.n_tok):
    offs.append(acc.get(src, 0))
    acc[src] = acc.get(src, 0) + int(n)
d["offset"] = np.array(offs, dtype="int64")
d["seq_id"] = d["offset"] // 512
f = d[["doc_id", "source", "n_tok", "offset", "seq_id"]]
f["n_tok"] = f["n_tok"].astype("int32")
check("pack_sequences", f)

# span_dup_fraction: per-doc distinct 4-token shingles shared with >=1 other doc
doc_sh = {}
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    sh = {r.text} if len(sp) < 4 else \
        {" ".join(sp[i:i + 4]) for i in range(len(sp) - 3)}
    doc_sh[r.doc_id] = sh
cnt = {}
for sh in doc_sh.values():
    for x in sh:
        cnt[x] = cnt.get(x, 0) + 1
rows = []
for did in sorted(doc_sh):
    sh = doc_sh[did]
    shared = sum(1 for x in sh if cnt[x] > 1)
    rows.append({"doc_id": did, "n_shingles": np.int64(len(sh)),
                 "n_shared": np.int64(shared),
                 "dup_frac": ratioR(shared, len(sh), 6)})
check("span_dup_fraction", pd.DataFrame(rows))

P = 1000000007

def poly_hash(s):
    h = 7
    for ch in s:  # Python strings are codepoint sequences, like codePointAt
        h = (h * 131 + ord(ch)) % P
    return h

# chunk_overlap: 32-token windows, stride 24 (1-based starts)
rows = []
for _, r in dc.iterrows():
    toks = r.text.split(" ")
    for start in range(1, len(toks) + 1, 24):
        chunk = toks[start - 1:start - 1 + 32]
        rows.append({"doc_id": r.doc_id, "chunk_idx": np.int32((start - 1) // 24),
                     "start": np.int32(start), "chunk_tok": np.int32(len(chunk)),
                     "first_tok": chunk[0]})
f = pd.DataFrame(rows).sort_values(["doc_id", "chunk_idx"])
for c in ("chunk_idx", "start", "chunk_tok"):
    f[c] = f[c].astype("int32")
check("chunk_overlap", f)

# mixture_sample: per-source keep rate from source suffix, Knuth hash on id
rows = {}
for _, r in dc.iterrows():
    thresh = (int(r.source[3:]) % 5 + 1) * 200
    keep = ((int(r.doc_id) % P) * 2654435761) % 1000 < thresh
    tot, smp = rows.get(r.source, (0, 0))
    rows[r.source] = (tot + 1, smp + (1 if keep else 0))
f = pd.DataFrame([{"source": s, "n_total": np.int64(t_), "n_sampled": np.int64(k),
                   "target_rate": rH((int(s[3:]) % 5 + 1) * 200 / 1000, 2)}
                  for s, (t_, k) in sorted(rows.items())])
check("mixture_sample", f)

# chunk_cdc: boundary where rolling 4-token shingle poly-hash % 16 == 0
rows = []
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    sh = [r.text] if len(sp) < 4 else \
        [" ".join(sp[i:i + 4]) for i in range(len(sp) - 3)]
    cid = 0
    spans = {}
    for pos, g in enumerate(sh):
        if poly_hash(g) % 16 == 0:
            cid += 1
        lo, hi, n = spans.get(cid, (pos, pos, 0))
        spans[cid] = (min(lo, pos), max(hi, pos), n + 1)
    for cid2, (lo, hi, n) in sorted(spans.items()):
        rows.append({"doc_id": r.doc_id, "chunk_id": np.int32(cid2),
                     "n_spans": np.int64(n), "start_pos": np.int32(lo),
                     "end_pos": np.int32(hi)})
f = pd.DataFrame(rows).sort_values(["doc_id", "chunk_id"])
for c, dt in (("chunk_id", "int32"), ("n_spans", "int64"),
              ("start_pos", "int32"), ("end_pos", "int32")):
    f[c] = f[c].astype(dt)
check("chunk_cdc", f)

# fingerprint_winnowing: window-4 minimum over the 4-token shingle poly
# hashes (Schleimer et al. 2003); value-matching fingerprints, distinct per
# doc; flag = shares a fingerprint with a smaller-id doc anywhere
doc_fps = {}
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    sh = [r.text] if len(sp) < 4 else \
        [" ".join(sp[i:i + 4]) for i in range(len(sp) - 3)]
    hl = [poly_hash(g) for g in sh]
    n = len(hl)
    fps = {min(hl[i:i + 4]) for i in range(max(0, n - 4) + 1)}
    doc_fps[(int(r.doc_id), r.source)] = fps
fp_min_doc, fp_df = {}, {}
for (did, _), fps in sorted(doc_fps.items()):
    for h_ in fps:
        fp_min_doc.setdefault(h_, did)
        fp_df[h_] = fp_df.get(h_, 0) + 1
agg = {}
for (did, src), fps in doc_fps.items():
    flag = 1 if any(fp_min_doc[h_] < did for h_ in fps) else 0
    max_df = max(fp_df[h_] for h_ in fps)
    nd, nf, fl, md = agg.get(src, (0, 0, 0, 0))
    agg[src] = (nd + 1, nf + len(fps), fl + flag, max(md, max_df))
f = pd.DataFrame([{"source": s, "n_docs": np.int64(nd),
                   "n_fingerprints": np.int64(nf),
                   "flagged_docs": np.int64(fl), "max_fp_df": np.int64(md)}
                  for s, (nd, nf, fl, md) in sorted(agg.items())])
check("fingerprint_winnowing", f)

# pretokenize_bpe_regex: GPT-2-ish lookahead-free ASCII pretokenizer (leftmost-
# first greedy alternation — identical in Java, RE2 and python re over
# explicit classes); fertility via the HALF_UP rational helper
BPE_PAT = re.compile(r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +")
agg = {}
for _, r in dc.iterrows():
    pts = BPE_PAT.findall(r.text)
    ws = len(r.text.split(" "))
    nd, np_, dp, wt = agg.get(r.source, (0, 0, set(), 0))
    agg[r.source] = (nd + 1, np_ + len(pts), dp | set(pts), wt + ws)
f = pd.DataFrame([{"source": s2, "n_docs": np.int64(nd),
                   "pretokens": np.int64(np_),
                   "distinct_pretokens": np.int64(len(dp)),
                   "ws_tokens": np.int64(wt),
                   "fertility": ratioR(np_, wt, 6)}
                  for s2, (nd, np_, dp, wt) in sorted(agg.items())])
check("pretokenize_bpe_regex", f)

# winnow_match_spans: winnowed candidate pairs (fingerprint df in [2, 16])
# verified by EXACT shingle-identity diagonal runs; every maximal shared
# run of >= 7 tokens emitted as (a_id, b_id, a_start, b_start, run_tokens).
# Independent derivation: dict-of-postings for pairs, per-pair dict of
# b-gram positions, islands by walking sorted pa per diagonal.
from collections import defaultdict as _dd
_fps, _grams = {}, {}
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    sh = [r.text] if len(sp) < 4 else \
        [" ".join(sp[i:i + 4]) for i in range(len(sp) - 3)]
    hl = [poly_hash(g) for g in sh]
    n = len(hl)
    _fps[int(r.doc_id)] = {min(hl[i:i + 4]) for i in range(max(0, n - 4) + 1)}
    if len(sp) >= 7:
        _grams[int(r.doc_id)] = sh
_fdf = _dd(int)
for _s in _fps.values():
    for _h in _s:
        _fdf[_h] += 1
_post = _dd(list)
for _did in sorted(_fps):
    for _h in _fps[_did]:
        if 2 <= _fdf[_h] <= 16:
            _post[_h].append(_did)
_pairs = set()
for _ds in _post.values():
    for _i in range(len(_ds)):
        for _j in range(_i + 1, len(_ds)):
            _pairs.add((_ds[_i], _ds[_j]))
rows = []
for _a, _b in sorted(_pairs):
    if _a not in _grams or _b not in _grams:
        continue
    _bpos = _dd(list)
    for _pb, _g in enumerate(_grams[_b]):
        _bpos[_g].append(_pb)
    _diags = _dd(list)
    for _pa, _g in enumerate(_grams[_a]):
        for _pb in _bpos.get(_g, ()):
            _diags[_pb - _pa].append(_pa)
    for _diag in sorted(_diags):
        _pas = sorted(_diags[_diag])
        _st = _prev = _pas[0]
        for _x in _pas[1:] + [None]:
            if _x is not None and _x == _prev + 1:
                _prev = _x
                continue
            _ln = _prev - _st + 1 + 3
            if _ln >= 7:
                rows.append({"a_id": np.int64(_a), "b_id": np.int64(_b),
                             "a_start": np.int32(_st),
                             "b_start": np.int32(_st + _diag),
                             "run_tokens": np.int64(_ln)})
            if _x is not None:
                _st = _prev = _x
f = pd.DataFrame(rows,
                 columns=["a_id", "b_id", "a_start", "b_start", "run_tokens"])
if len(f):
    f = f.sort_values(["a_id", "b_id", "a_start", "b_start"])
check("winnow_match_spans", f)

# dedup_span_removal: keep-first application of the spans above — each
# LATER doc's duplicated-token count is the UNION of its b-side run
# positions (a set, so overlapping runs never double-count), plus the
# before/after attrition and the HALF_UP keep ratio
_cov = _dd(set)
for _r in rows:
    _cov[int(_r["b_id"])].update(
        range(int(_r["b_start"]), int(_r["b_start"]) + int(_r["run_tokens"])))
out = []
for _, r in dc.iterrows():
    ntok = len(r.text.split(" "))
    nd = len(_cov.get(int(r.doc_id), ()))
    out.append({"doc_id": np.int64(r.doc_id), "n_tok": np.int64(ntok),
                "n_dup_tokens": np.int64(nd), "n_keep": np.int64(ntok - nd),
                "keep_ratio": ratioR(ntok - nd, ntok, 6)})
check("dedup_span_removal", pd.DataFrame(out).sort_values("doc_id"))

# dedup_span_clean: the emitted corpus — covered positions removed from
# each later doc, survivors re-joined with single spaces
out = []
for _, r in dc.iterrows():
    toks = r.text.split(" ")
    covset = _cov.get(int(r.doc_id), set())
    kept = [t_ for i_, t_ in enumerate(toks) if i_ not in covset]
    out.append({"doc_id": np.int64(r.doc_id), "n_keep": np.int64(len(kept)),
                "clean_text": " ".join(kept)})
check("dedup_span_clean", pd.DataFrame(out).sort_values("doc_id"))

# bloom_prefilter: m=4096 k=3 over 8-token head fingerprints
fp = {did: " ".join(txt.split(" ")[:8]) for did, txt in zip(dc.doc_id, dc.text)}
def positions(th):
    return [((((i * 2654435761) % P) * th + (i * 40503 + 17) % P) % P) % 4096
            for i in (1, 2, 3)]
bits, histfp = set(), set()
for did, f_ in fp.items():
    if did % 10 < 7:
        bits.update(positions(poly_hash(f_)))
        histfp.add(f_)
agg = {}
for _, r in dc.iterrows():
    if r.doc_id % 10 < 7:
        continue
    f_ = fp[r.doc_id]
    flagged = all(p in bits for p in positions(poly_hash(f_)))
    dup = f_ in histfp
    n, fl, du, fpn = agg.get(r.source, (0, 0, 0, 0))
    agg[r.source] = (n + 1, fl + flagged, du + dup, fpn + (flagged and not dup))
f = pd.DataFrame([{"source": s, "n_new": np.int64(n), "n_flagged": np.int64(fl),
                   "n_dup": np.int64(du), "n_false_pos": np.int64(fpn)}
                  for s, (n, fl, du, fpn) in sorted(agg.items())])
check("bloom_prefilter", f)

# lang_id: distinct-marker-match scoring, earliest-argmax tie-break
MARKERS = [("de", {"der", "und", "die"}), ("en", {"the", "a", "of"}),
           ("es", {"el", "la", "de"}), ("fr", {"le", "la", "et"}),
           ("zh", {"的", "是", "了"})]
cnt = {}
for s in dc.text:
    toks = set(s.split(" "))
    scores = [len(toks & ws) for _, ws in MARKERS]
    pick = next(lang for i, (lang, _) in enumerate(MARKERS)
                if scores[i] >= max(scores[i + 1:], default=-1))
    cnt[pick] = cnt.get(pick, 0) + 1
f = pd.DataFrame(sorted(cnt.items()), columns=["lang_pred", "cnt"])
f["cnt"] = f["cnt"].astype("int64")
check("lang_id", f)

# doc_fingerprint: sum_i (len(tok_i) * i) % 1000003, i 1-based, summed mod p
rows = []
for _, r in dc.iterrows():
    sp = r.text.split(" ")
    fpv = sum((len(tk) * i) % 1000003 for i, tk in enumerate(sp, 1)) % 1000003
    rows.append({"doc_id": r.doc_id, "fingerprint": np.int64(fpv)})
f = pd.DataFrame(rows).sort_values("doc_id")
f["fingerprint"] = f["fingerprint"].astype("int64")
check("doc_fingerprint", f)

# funnel_stages: first view -> first later click -> first later purchase
ms = ev.ts.values.astype("datetime64[us]").astype("int64") // 1000
e = pd.DataFrame({"user_id": ev.user_id, "event_type": ev.event_type, "ms": ms})
t1 = e[e.event_type == "view"].groupby("user_id")["ms"].min()
c = e[e.event_type == "click"].merge(t1.rename("t1"), on="user_id")
t2 = c[c.ms > c.t1].groupby("user_id")["ms"].min()
p = e[e.event_type == "purchase"].merge(t2.rename("t2"), on="user_id")
t3 = p[p.ms > p.t2].groupby("user_id")["ms"].min()
f = pd.DataFrame({"stage": np.array([1, 2, 3], dtype="int32"),
                  "users": np.array([len(t1), len(t2), len(t3)], dtype="int64")})
got_cols = list(dump("funnel_stages").columns)
f = f[got_cols] if set(got_cols) == {"stage", "users"} else f
f["stage"] = f["stage"].astype(dump("funnel_stages").stage.dtype)
check("funnel_stages", f)

# window_lag_lead: per-user lag delta + 3-row moving average over (us, id)
tus = ev.ts.values.astype("datetime64[us]").astype("int64")
w = pd.DataFrame({"user_id": ev.user_id, "event_id": ev.event_id,
                  "tus": tus, "value": ev.value}).sort_values(["user_id", "tus", "event_id"])
deltas, mavgs = [], []
for _, grp in w.groupby("user_id", sort=False):
    v = grp.value.values
    deltas.extend([None] + [rH(v[i] - v[i - 1], 6) for i in range(1, len(v))])
    mavgs.extend(rH(float(np.mean(v[max(0, i - 2):i + 1])), 6) for i in range(len(v)))
w["delta"], w["mavg"] = deltas, mavgs
f = w[["user_id", "event_id", "delta", "mavg"]].sort_values(["user_id", "event_id"])
f["delta"] = f["delta"].astype(float)
check("window_lag_lead", f)

# gapfill_locf: dense (status, day) spine with zero counts + LOCF revenue
o = od.copy()
o["day"] = pd.DatetimeIndex(o.o_orderdate).normalize()
cents = [Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) for v in o.o_totalprice]
o["price"] = cents
daily = {}
for st, day, pr in zip(o.o_orderstatus, o.day, o.price):
    n, s = daily.get((st, day), (0, Decimal(0)))
    daily[(st, day)] = (n + 1, s + pr)
days = pd.date_range(o.day.min(), o.day.max(), freq="D")
rows = []
for st in sorted(o.o_orderstatus.unique()):
    last = None
    for day in days:
        n, s = daily.get((st, day), (0, None))
        if s is not None:
            last = s
        rows.append({"status": st, "day": day.date(),
                     "cnt": np.int64(n),
                     "locf_rev": float(last) if last is not None else None})
f = pd.DataFrame(rows)
g = dump("gapfill_locf")
f["day"] = f["day"].astype(g["day"].dtype) if g["day"].dtype != object else f["day"]
check("gapfill_locf", f)

# vocab_coverage: occurrence share of top-{10,25,50} token types
tc = {}
for s in dc.text:
    for tk in s.split(" "):
        tc[tk] = tc.get(tk, 0) + 1
ranked = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))
total = sum(tc.values())
rows = []
for nv in (10, 25, 50):
    cov = sum(c for _, c in ranked[:nv])
    rows.append({"n_vocab": np.int32(nv), "covered": np.int64(cov),
                 "total": np.int64(total), "coverage": ratioR(cov, total, 6)})
f = pd.DataFrame(rows)
f["n_vocab"] = f["n_vocab"].astype("int32")
check("vocab_coverage", f)

# dedup_exact: min-doc_id winner per identical text
grp = {}
for did, txt in zip(dc.doc_id, dc.text):
    lo, n = grp.get(txt, (did, 0))
    grp[txt] = (min(lo, did), n + 1)
f = pd.DataFrame([{"doc_id": lo, "dup_count": np.int64(n)}
                  for lo, n in grp.values()]).sort_values("doc_id")
check("dedup_exact", f)

# agg_conditional_family: count_if / bool_or / bool_and / filtered distinct
rows = []
for et, g in ev.groupby("event_type"):
    v = g.value.dropna()
    rows.append({
        "event_type": et,
        "n_high": np.int64((v > 50).sum()),
        "any_extreme": bool((v > 488).any()) if len(v) else None,
        "all_above_floor": bool((v > 0.05).all()) if len(v) else None,
        "users_high": np.int64(g[g.value > 50].user_id.nunique())})
check("agg_conditional_family", pd.DataFrame(rows).sort_values("event_type"))

# event_pair_join: click->purchase pairs per user within +/-30 min
ems = ev.ts.values.astype("datetime64[us]").astype("int64") // 1000
epj = pd.DataFrame({"user_id": ev.user_id, "event_type": ev.event_type, "ms": ems})
clicks = epj[epj.event_type == "click"][["user_id", "ms"]].rename(columns={"ms": "c_ms"})
purch = epj[epj.event_type == "purchase"][["user_id", "ms"]].rename(columns={"ms": "p_ms"})
j = clicks.merge(purch, on="user_id")
j = j[(j.p_ms >= j.c_ms - 1800000) & (j.p_ms <= j.c_ms + 1800000)]
f = j.assign(gap=(j.p_ms - j.c_ms).abs()).groupby("user_id", as_index=False) \
    .agg(pairs=("gap", "size"), min_gap_ms=("gap", "min")).sort_values("user_id")
f["pairs"] = f["pairs"].astype("int64")
f["min_gap_ms"] = f["min_gap_ms"].astype("int64")
check("event_pair_join", f)

# text_tfidf: top-3 BM25-ish scored terms per doc (doc_id < 50)
tf, dlen = {}, {}
for did, txt in zip(dc.doc_id, dc.text):
    sp = txt.split(" ")
    dlen[did] = len(sp)
    for tk in sp:
        tf[(did, tk)] = tf.get((did, tk), 0) + 1
dfreq = {}
for (_, tk) in tf:
    dfreq[tk] = dfreq.get(tk, 0) + 1
ndocs = len(dc)
rows = []
for did in sorted(dlen):
    if did >= 50:
        continue
    scored = [(tk, (c / dlen[did]) * ((ndocs - dfreq[tk] + 0.5) / (dfreq[tk] + 0.5)))
              for (d2, tk), c in tf.items() if d2 == did]
    scored.sort(key=lambda x: (-x[1], x[0]))
    for rank, (tk, sc) in enumerate(scored[:3], 1):
        rows.append({"doc_id": did, "rank": np.int32(rank), "token": tk,
                     "tfidf": rH(sc, 6)})
f = pd.DataFrame(rows).sort_values(["doc_id", "rank"])
f["rank"] = f["rank"].astype("int32")
check("text_tfidf", f)

# corpus_curate: en-only + quality>=0.5 + exact-dedup (min doc_id wins)
def r6(x):
    # Spark round(double, 6) is BigDecimal.valueOf(x).setScale(6, HALF_UP),
    # i.e. HALF_UP on the shortest decimal repr — python round() is
    # banker's and diverges exactly at the .5 boundary (found live: a
    # quality of 0.5286875 rounded to ...87 vs the engines' ...88)
    from decimal import Decimal, ROUND_HALF_UP
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

def quality(txt):
    # integer-exact form (r8): num/den over the common denominator 1000n,
    # half-up micros in pure int arithmetic — matches the engines at every
    # SF (the fp form diverged at an exact 0.2883125 boundary at sf0.1)
    sp = txt.split(" ")
    n = len(sp)
    stop = sum(1 for tk in sp if tk in ("the", "a"))
    sumlen = sum(len(tk) for tk in sp)
    num = 4 * min(n, 100) * n + 300 * stop + 30 * min(sumlen, 10 * n)
    micros = (2000000 * num + 1000 * n) // (2000 * n)
    return micros / 1000000
def lang_pred(txt):
    toks = set(txt.split(" "))
    scores = [len(toks & ws) for _, ws in MARKERS]
    return next(lang for i, (lang, _) in enumerate(MARKERS)
                if scores[i] >= max(scores[i + 1:], default=-1))
surv = [(did, txt, quality(txt)) for did, txt in zip(dc.doc_id, dc.text)
        if lang_pred(txt) == "en" and quality(txt) >= 0.5]
winner = {}
for did, txt, q in surv:
    winner[txt] = min(winner.get(txt, did), did)
keep = set(winner.values())
f = pd.DataFrame([{"doc_id": did, "quality": q} for did, txt, q in surv
                  if did in keep]).sort_values("doc_id")
check("corpus_curate", f)

# --- reference-core scoring family, over the synthesized query log -----
# qlog derivation (TableRegistry.queryLogFrom): one row per event;
# metrics are floor(value * k) so every engine reproduces them exactly
CANNED = [
    "SELECT l_returnflag, sum(l_quantity) FROM lineitem WHERE l_shipdate >= DATE '1995-01-01' GROUP BY l_returnflag LIMIT 10",
    "SELECT o_orderkey, l_quantity FROM orders JOIN lineitem ON o_orderkey = l_orderkey WHERE o_totalprice > 150000.0",
    "SELECT c_mktsegment, count(*) FROM customer GROUP BY c_mktsegment",
    "SELECT * FROM orders WHERE o_orderdate >= DATE '1996-01-01' AND o_orderstatus = 'F'",
    "SELECT s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'FRANCE' LIMIT 5"]
ql = pd.DataFrame({
    "query_id": ev.event_id.astype("int64"),
    "query": [CANNED[i % 5] for i in ev.event_id],
    "exec_ms": np.floor(ev.value * 100).astype("int64"),
    "cpu_ms": np.floor(ev.value * 60).astype("int64"),
    "in_b": np.floor(ev.value * 1e6).astype("int64"),
    "peak_b": np.floor(ev.value * 5e5).astype("int64")})

# score_resource: 40/30/15/15 normalization against column maxima
mx = {c: max(ql[c].max(), 1) for c in ("exec_ms", "cpu_ms", "in_b", "peak_b")}
f = pd.DataFrame({
    "query_id": ql.query_id,
    "resource_score": [r6(e / mx["exec_ms"] * 40.0 + c / mx["cpu_ms"] * 30.0 +
                          i / mx["in_b"] * 15.0 + p / mx["peak_b"] * 15.0)
                       for e, c, i, p in zip(ql.exec_ms, ql.cpu_ms, ql.in_b, ql.peak_b)]
}).sort_values("query_id")
check("score_resource", f)

# score_query_type: interactive iff LIMIT present or exec < 10 s
inter = [("LIMIT" in q.upper()) or (e < 10000)
         for q, e in zip(ql["query"], ql.exec_ms)]
f = pd.DataFrame({
    "query_id": ql.query_id,
    "is_interactive": inter,
    "partition_priority": [2.0 if b else 1.0 for b in inter]}).sort_values("query_id")
check("score_query_type", f)

# score_distribution: skew p90/p10 (guarded) + density over lineitem numerics
rows = []
for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"):
    v = li[c].astype(float)
    p10 = float(np.percentile(v, 10, method="linear"))
    p90 = float(np.percentile(v, 90, method="linear"))
    skew = p90 / p10 if (p10 != p90 and p10 != 0) else 1.0
    rows.append({"column": c, "skew_ratio": r6(skew),
                 "density": ratioR(li[c].nunique(), len(li), 6)})
check("score_distribution", pd.DataFrame(rows).sort_values("column"))

# transform_date: month-truncation rollup of l_shipdate
months = pd.DatetimeIndex(li.l_shipdate).to_period("M").to_timestamp()
f = pd.DataFrame({"month_start": months}).groupby("month_start").size() \
    .reset_index(name="cnt").sort_values("month_start")
f["month_start"] = f["month_start"].dt.date
g = dump("transform_date")
f["month_start"] = f["month_start"].astype(g["month_start"].dtype) \
    if g["month_start"].dtype != object else f["month_start"]
f["cnt"] = f["cnt"].astype("int64")
check("transform_date", f)

# --- TPC-H headline shapes (decimal-exact money arithmetic) ------------
cu = t("customer")
su = t("supplier")
na = t("nation")
rg = t("region")

def dq(x, places):
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)

def rN(x, places):
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))

# q1_agg: per (flag, status) decimal sums + derived average
g = {}
for fl, st, q, p in zip(li.l_returnflag, li.l_linestatus, li.l_quantity, li.l_extendedprice):
    sq, sp_, n = g.get((fl, st), (Decimal(0), Decimal(0), 0))
    g[(fl, st)] = (sq + dq(q, 2), sp_ + dq(p, 2), n + 1)
f = pd.DataFrame([{"l_returnflag": fl, "l_linestatus": st,
                   "sum_qty": rN(float(sq), 2), "sum_price": rN(float(sp_), 2),
                   "avg_qty": rN(float(sq) / n, 6), "cnt": np.int64(n)}
                  for (fl, st), (sq, sp_, n) in sorted(g.items())])
check("q1_agg", f)

def revenue_groups(rows_iter, keyf, valf):
    acc = {}
    for row in rows_iter:
        k = keyf(row)
        acc[k] = acc.get(k, Decimal(0)) + valf(row)
    return acc

# q3_shipping: BUILDING customers x orders x post-1996 lineitems, top 20
cust_b = set(cu[cu.c_mktsegment == "BUILDING"].c_custkey)
ok_orders = set(od[od.o_custkey.isin(cust_b)].o_orderkey)
okmap = {}
cut96 = np.datetime64("1996-01-01T00:00:00")
li3 = li[(li.l_shipdate.values >= cut96) & (li.l_orderkey.isin(ok_orders))]
for okey, p, d in zip(li3.l_orderkey, li3.l_extendedprice, li3.l_discount):
    s_, n = okmap.get(okey, (Decimal(0), 0))
    okmap[okey] = (s_ + dq(p * (1 - d), 4), n + 1)
rows = [{"o_orderkey": k, "revenue": rN(float(s_), 4), "n_items": np.int64(n)}
        for k, (s_, n) in okmap.items()]
rows.sort(key=lambda r: (-r["revenue"], r["o_orderkey"]))
check("q3_shipping", pd.DataFrame(rows[:20]))

# q5_region: ASIA dimension chain, revenue per nation
asia = set(rg[rg.r_name == "ASIA"].r_regionkey)
nat_asia = na[na.n_regionkey.isin(asia)][["n_nationkey", "n_name"]]
nk2name = dict(zip(nat_asia.n_nationkey, nat_asia.n_name))
sup_nat = dict(zip(su.s_suppkey, su.s_nationkey))
o2c = dict(zip(od.o_orderkey, od.o_custkey))
acc = {}
for okey, sk, p, d in zip(li.l_orderkey, li.l_suppkey, li.l_extendedprice, li.l_discount):
    if okey not in o2c:
        continue
    nk = sup_nat.get(sk)
    if nk not in nk2name:
        continue
    nm = nk2name[nk]
    acc[nm] = acc.get(nm, Decimal(0)) + dq(p * (1 - d), 4)
f = pd.DataFrame([{"n_name": nm, "revenue": rN(float(v), 4)}
                  for nm, v in sorted(acc.items())])
check("q5_region", f)

# q6_forecast: scan-filter decimal revenue
cut97 = np.datetime64("1997-01-01T00:00:00")
m = (li.l_shipdate.values >= cut96) & (li.l_shipdate.values < cut97) & \
    (li.l_discount >= 0.04) & (li.l_discount <= 0.06) & (li.l_quantity < 24)
rev = sum((dq(p * d, 4) for p, d in zip(li[m].l_extendedprice, li[m].l_discount)),
          Decimal(0))
check("q6_forecast", pd.DataFrame([{"revenue": rN(float(rev), 4)}]))

# q18_large_orders: orders whose total quantity exceeds 250, top 100
qty = {}
for okey, q in zip(li.l_orderkey, li.l_quantity):
    qty[okey] = qty.get(okey, 0.0) + q
big = {k: v for k, v in qty.items() if v > 250}
c2name = dict(zip(cu.c_custkey, cu.c_name))
odate = dict(zip(od.o_orderkey, pd.DatetimeIndex(od.o_orderdate).date))
rows = [{"c_name": c2name[o2c[k]], "o_orderkey": k, "o_date": odate[k],
         "total_qty": v} for k, v in big.items() if k in o2c]
rows.sort(key=lambda r: (-r["total_qty"], r["o_orderkey"]))
f = pd.DataFrame(rows[:100])
g18 = dump("q18_large_orders")
f["o_date"] = f["o_date"].astype(g18["o_date"].dtype) \
    if g18["o_date"].dtype != object else f["o_date"]
check("q18_large_orders", f)

# sort_limit_topk: top 10 events by rounded value, id tie-break
f = pd.DataFrame({"event_id": ev.event_id,
                  "value": [rN(v, 2) for v in ev.value]})
f = f.sort_values(["value", "event_id"], ascending=[False, True]).head(10)
check("sort_limit_topk", f)

# agg_heavy_hitters: exact top-10 plus the Misra-Gries bound assertion —
# the sketch side is Spark-internal, so the independent expectation for
# mg_within_bound is TRUE (the guarantee true−est <= n/capacity holds for
# any correct MG regardless of |distinct| vs capacity; the r9 sf1 stress
# gate killed the old capacity>=distinct exactness premise)
f = ev.groupby("user_id").size().reset_index(name="cnt")
f = f.sort_values(["cnt", "user_id"], ascending=[False, True]).head(10)
f["cnt"] = f["cnt"].astype("int64")
f["mg_within_bound"] = True
check("agg_heavy_hitters", f)

# text_clean: lowercase, strip non-alphanumerics, collapse spaces, trim
f = pd.DataFrame({
    "doc_id": dc.doc_id,
    "clean": [re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", s.lower())).strip()
              for s in dc.text]}).sort_values("doc_id")
check("text_clean", f)

# q4_exists: orders with any lineitem shipped >90 days after order date
ship_by_order = {}
for okey, sd_ in zip(li.l_orderkey, li.l_shipdate.values):
    ship_by_order.setdefault(okey, []).append(sd_)
ninety = np.timedelta64(90, "D")
cnt = {}
for okey, odate_, pri in zip(od.o_orderkey, od.o_orderdate.values, od.o_orderpriority):
    if any(sd_ > odate_ + ninety for sd_ in ship_by_order.get(okey, ())):
        cnt[pri] = cnt.get(pri, 0) + 1
f = pd.DataFrame(sorted(cnt.items()), columns=["o_orderpriority", "order_count"])
f["order_count"] = f["order_count"].astype("int64")
check("q4_exists", f)

# q22_no_orders: customers with no urgent order, per segment
urgent = set(od[od.o_orderpriority == "1-URGENT"].o_custkey)
qual = cu[~cu.c_custkey.isin(urgent)]
f = qual.groupby("c_mktsegment").agg(
    n_customers=("c_custkey", "size"), min_key=("c_custkey", "min")) \
    .reset_index().sort_values("c_mktsegment")
f["n_customers"] = f["n_customers"].astype("int64")
f["min_key"] = f["min_key"].astype("int64")
check("q22_no_orders", f)

# q14_promo: promo revenue share over the 1997 lineitem x part join
pt = t("part")
ptype = dict(zip(pt.p_partkey, pt.p_type))
y97 = pd.DatetimeIndex(li.l_shipdate).year == 1997
promo, tot = Decimal(0), Decimal(0)
for pk, p, d in zip(li[y97].l_partkey, li[y97].l_extendedprice, li[y97].l_discount):
    if pk not in ptype:
        continue
    v = dq(p * (1 - d), 4)
    tot += v
    if ptype[pk] == "PROMO":
        promo += v
check("q14_promo",
      pd.DataFrame([{"promo_revenue_pct": ratioR(int(promo * 10000) * 100,
                                                 int(tot * 10000), 6)}]))

# join_semi: customers with any order over 150k
big_cust = set(od[od.o_totalprice > 150000].o_custkey)
f = cu[cu.c_custkey.isin(big_cust)][["c_custkey", "c_name"]].sort_values("c_custkey")
check("join_semi", f)

# join_equi_inner: decimal qty sum per order status over the join
st_of = dict(zip(od.o_orderkey, od.o_orderstatus))
acc = {}
for okey, q in zip(li.l_orderkey, li.l_quantity):
    st = st_of.get(okey)
    if st is None:
        continue
    s_, n = acc.get(st, (Decimal(0), 0))
    acc[st] = (s_ + dq(q, 2), n + 1)
f = pd.DataFrame([{"o_orderstatus": st, "sum_qty": rN(float(s_), 2),
                   "cnt": np.int64(n)} for st, (s_, n) in sorted(acc.items())])
check("join_equi_inner", f)

# join_explode_agg: stopword token stats weighted by doc n_chars
STOP = {"the", "a", "data", "join", "merge", "spark"}
acc = {}
for nch, txt in zip(dc.n_chars, dc.text):
    for tk in txt.split(" "):
        if tk in STOP:
            s_, n = acc.get(tk, (0, 0))
            acc[tk] = (s_ + int(nch), n + 1)
f = pd.DataFrame([{"token": tk, "cnt": np.int64(n), "avg_chars": rN(s_ / n, 6)}
                  for tk, (s_, n) in sorted(acc.items())])
check("join_explode_agg", f)

# setop_union_all: nation-key counts across both sides
nk = list(cu.c_nationkey) + list(su.s_nationkey)
f = pd.Series(nk).value_counts().rename_axis("nationkey").reset_index(name="cnt") \
    .sort_values("nationkey")
f["nationkey"] = f["nationkey"].astype("int32")
f["cnt"] = f["cnt"].astype("int64")
check("setop_union_all", f)

# agg_rollup: (flag,status), (flag), () subtotals with 'ALL' coalescing
lvl = {}
for fl, st, q in zip(li.l_returnflag, li.l_linestatus, li.l_quantity):
    for k in ((fl, st), (fl, "ALL"), ("ALL", "ALL")):
        s_, n = lvl.get(k, (Decimal(0), 0))
        lvl[k] = (s_ + dq(q, 2), n + 1)
f = pd.DataFrame([{"flag": fl, "status": st, "cnt": np.int64(n),
                   "sum_qty": rN(float(s_), 2)}
                  for (fl, st), (s_, n) in sorted(lvl.items())])
check("agg_rollup", f)

# window_topn_per_view: top-3 (price desc, orderkey, linenumber) per flag
byflag = {}
for fl, okey, ln, p in zip(li.l_returnflag, li.l_orderkey, li.l_linenumber,
                           li.l_extendedprice):
    byflag.setdefault(fl, []).append((-rN(p, 2), okey, ln))
rows = []
for fl in sorted(byflag):
    for rank, (np_, okey, ln) in enumerate(sorted(byflag[fl])[:3], 1):
        rows.append({"l_returnflag": fl, "l_orderkey": okey,
                     "l_linenumber": np.int32(ln), "price": -np_,
                     "rank": np.int32(rank)})
f = pd.DataFrame(rows)
f["l_linenumber"] = f["l_linenumber"].astype("int32")
f["rank"] = f["rank"].astype("int32")
check("window_topn_per_view", f)

# transform_truncate: floor(p_size/10)*10 histogram
f = pd.DataFrame({"trunc_size": (pt.p_size // 10 * 10).astype("int64")}) \
    .groupby("trunc_size").size().reset_index(name="cnt").sort_values("trunc_size")
f["cnt"] = f["cnt"].astype("int64")
check("transform_truncate", f)

# transform_bucket / transform_bucket_iceberg: murmur3_x86_32 over the
# 8-byte little-endian long (identical to Spark's two-int-block hashLong)
def _mix_k1(k1):
    k1 = (k1 * 0xcc9e2d51) & 0xffffffff
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xffffffff
    return (k1 * 0x1b873593) & 0xffffffff

def murmur_long(v, seed):
    h1 = seed & 0xffffffff
    for blk in (v & 0xffffffff, (v >> 32) & 0xffffffff):
        h1 ^= _mix_k1(blk)
        h1 = ((h1 << 13) | (h1 >> 19)) & 0xffffffff
        h1 = (h1 * 5 + 0xe6546b64) & 0xffffffff
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85ebca6b) & 0xffffffff
    h1 ^= h1 >> 13
    h1 = (h1 * 0xc2b2ae35) & 0xffffffff
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1  # as signed int32

b42 = [((murmur_long(int(v), 42) % 8) + 8) % 8 for v in li.l_suppkey]
f = pd.DataFrame({"bucket": b42}).groupby("bucket").size() \
    .reset_index(name="cnt").sort_values("bucket")
f["bucket"] = f["bucket"].astype("int32")
f["cnt"] = f["cnt"].astype("int64")
check("transform_bucket", f)

b0 = [(murmur_long(int(v), 0) & 0x7fffffff) % 8 for v in li.l_suppkey]
f = pd.DataFrame({"bucket": b0}).groupby("bucket").size() \
    .reset_index(name="cnt").sort_values("bucket")
f["bucket"] = f["bucket"].astype("int32")
f["cnt"] = f["cnt"].astype("int64")
check("transform_bucket_iceberg", f)

# q21_waiting: sole returning supplier in multi-supplier orders
supp_of, rsupp_of = {}, {}
for okey, sk, fl in zip(li.l_orderkey, li.l_suppkey, li.l_returnflag):
    supp_of.setdefault(okey, set()).add(sk)
    if fl == "R":
        rsupp_of.setdefault(okey, set()).add(sk)
sname = dict(zip(su.s_suppkey, su.s_name))
wait = {}
for okey, rs in rsupp_of.items():
    if len(supp_of[okey]) >= 2 and len(rs) == 1:
        sk = next(iter(rs))
        wait.setdefault(sname[sk], set()).add(okey)
rows = [{"s_name": nm, "numwait": np.int64(len(ok))} for nm, ok in wait.items()]
rows.sort(key=lambda r: (-r["numwait"], r["s_name"]))
check("q21_waiting", pd.DataFrame(rows))

# limit_probe: lowest-key region row
f = rg.sort_values("r_regionkey").head(1).reset_index(drop=True)
check("limit_probe", f[list(dump("limit_probe").columns)])

# filter_conjunctive / filter_point / filter_isin / filter_like
f = li[(li.l_returnflag == "R") & (li.l_linestatus == "F")] \
    [["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]] \
    .sort_values(["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"])
check("filter_conjunctive", f)

f = ev[ev.event_id == 42][["event_id", "user_id", "event_type", "value"]].copy()
f["value"] = [rN(v, 2) for v in f.value]
check("filter_point", f)

f = na[na.n_name.isin(["NATION_3", "NATION_7", "NATION_12"])] \
    [["n_nationkey", "n_name", "n_regionkey"]].sort_values("n_nationkey")
check("filter_isin", f)

f = pt[pt.p_name.str.contains("widget")].groupby("p_brand").size() \
    .reset_index(name="cnt").sort_values("p_brand")
f["cnt"] = f["cnt"].astype("int64")
check("filter_like", f)

# agg_cube: all four grouping levels with 'ALL' coalescing
lvl = {}
for fl, st, q in zip(li.l_returnflag, li.l_linestatus, li.l_quantity):
    for k in ((fl, st), (fl, "ALL"), ("ALL", st), ("ALL", "ALL")):
        s_, n = lvl.get(k, (Decimal(0), 0))
        lvl[k] = (s_ + dq(q, 2), n + 1)
f = pd.DataFrame([{"flag": fl, "status": st, "cnt": np.int64(n),
                   "sum_qty": rN(float(s_), 2)}
                  for (fl, st), (s_, n) in sorted(lvl.items())])
check("agg_cube", f)

# agg_collect_sorted: sorted distinct statuses per flag
f = li.groupby("l_returnflag").agg(
    statuses=("l_linestatus", lambda s: ",".join(sorted(set(s)))),
    n=("l_linestatus", "nunique")).reset_index().sort_values("l_returnflag")
f["n"] = f["n"].astype("int64")
check("agg_collect_sorted", f)

# q2_correlated_scalar: each customer's cheapest order (custkey < 300)
omin = od.groupby("o_custkey")["o_totalprice"].min()
q2 = od[(od.o_custkey < 300) &
        (od.o_totalprice == od.o_custkey.map(omin))].copy()
f = pd.DataFrame({"o_custkey": q2.o_custkey, "o_orderkey": q2.o_orderkey,
                  "price": [rN(v, 2) for v in q2.o_totalprice]}) \
    .sort_values(["o_custkey", "o_orderkey"])
check("q2_correlated_scalar", f)

# q10_returns: returned-item revenue per customer in 1996H1, top 20
h1 = (od.o_orderdate.values >= cut96) & \
    (od.o_orderdate.values < np.datetime64("1996-07-01T00:00:00"))
ok96 = dict(zip(od[h1].o_orderkey, od[h1].o_custkey))
acc = {}
for okey, fl, p, d in zip(li.l_orderkey, li.l_returnflag,
                          li.l_extendedprice, li.l_discount):
    if fl != "R" or okey not in ok96:
        continue
    ck = ok96[okey]
    acc[ck] = acc.get(ck, Decimal(0)) + dq(p * (1 - d), 4)
rows = [{"c_custkey": ck, "c_name": c2name[ck], "revenue": rN(float(v), 4)}
        for ck, v in acc.items()]
rows.sort(key=lambda r: (-r["revenue"], r["c_custkey"]))
check("q10_returns", pd.DataFrame(rows[:20]))

# --- LSH dedup pipeline (the 100 TB path), end to end ------------------
def shingle_set(txt, w=3):
    sp = txt.split(" ")
    if len(sp) < w:
        return {txt}
    return {" ".join(sp[i:i + w]) for i in range(len(sp) - w + 1)}

def minhash_sig(hashes, k=20):
    sig = []
    for i in range(k):
        a = ((i + 1) * 2654435761) % P
        b = ((i + 1) * 40503 + 17) % P
        sig.append(min((a * h + b) % P for h in hashes))
    return sig

doc_shset = {did: shingle_set(txt) for did, txt in zip(dc.doc_id, dc.text)}
doc_sig = {did: minhash_sig([poly_hash(g) for g in sh])
           for did, sh in doc_shset.items()}

# banding: 5 bands of 4 signature slots; candidates share a raw band slice
buckets = {}
for did, sig in doc_sig.items():
    for b in range(5):
        buckets.setdefault((b, tuple(sig[b * 4:b * 4 + 4])), []).append(did)
cands = set()
for ids in buckets.values():
    ids = sorted(ids)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            cands.add((ids[i], ids[j]))

def jaccard(a, b):
    inter = len(doc_shset[a] & doc_shset[b])
    return inter / (len(doc_shset[a]) + len(doc_shset[b]) - inter)

# dedup_minhash: verified near-dup pairs at rounded jaccard >= 0.7
rows = [{"a_id": a, "b_id": b, "jaccard": rN(jaccard(a, b), 6)}
        for a, b in sorted(cands) if rN(jaccard(a, b), 6) >= 0.7]
check("dedup_minhash", pd.DataFrame(rows,
      columns=["a_id", "b_id", "jaccard"]))

# dedup_minhash_incremental (X69): new batch (doc_id%10>=7) screened
# against KEPT docs of the already-deduped base (doc_id%10<7), same
# family. Banding is per-pair, so restricting the all-docs candidate set
# to (base,base) / (new,kept) sides reproduces split-corpus banding.
mi_drop = set()
for a, b in cands:
    if a % 10 < 7 and b % 10 < 7 and rN(jaccard(a, b), 6) >= 0.7:
        mi_drop.add(b)
mi_keptset = {d for d in doc_shset if d % 10 < 7 and d not in mi_drop}
mi_hit = set()
for a, b in cands:
    for n_, k_ in ((a, b), (b, a)):
        if n_ % 10 >= 7 and k_ in mi_keptset and rN(jaccard(n_, k_), 6) >= 0.7:
            mi_hit.add(n_)
check("dedup_minhash_incremental", pd.DataFrame(
    [{"doc_id": np.int64(d), "kept": np.int32(0 if d in mi_hit else 1)}
     for d in sorted(doc_shset) if d % 10 >= 7]))

# dedup_cluster_lsh: components over candidates verified at ROUND(jaccard, 6)
# >= 0.2 (r15: the rounded compare is the declared semantics on all three
# engines — the dedup_minhash convention)
parent = {did: did for did in doc_shset}
def find(x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x
for a, b in cands:
    if rN(jaccard(a, b), 6) >= 0.2:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
labels = {did: find(did) for did in doc_shset}
sizes = {}
for lab_ in labels.values():
    sizes[lab_] = sizes.get(lab_, 0) + 1
f = pd.DataFrame([{"doc_id": did, "cluster_id": lab_,
                   "cluster_size": np.int64(sizes[lab_])}
                  for did, lab_ in sorted(labels.items())])
check("dedup_cluster_lsh", f)

# cms_token_counts: d=4 x w=64 count-min over token occurrences
tokc = {}
for s in dc.text:
    for tk in s.split(" "):
        tokc[tk] = tokc.get(tk, 0) + 1
cells = [{} for _ in range(5)]
buck = {}
for tk, cnt_ in tokc.items():
    th = poly_hash(tk)
    for i in (1, 2, 3, 4):
        bkt = ((((i * 2654435761) % P) * th + (i * 40503 + 17) % P) % P) % 64
        buck[(tk, i)] = bkt
        cells[i][bkt] = cells[i].get(bkt, 0) + cnt_
rows = [{"tok": tk, "true_cnt": np.int64(cnt_),
         "cms_est": np.int64(min(cells[i][buck[(tk, i)]] for i in (1, 2, 3, 4)))}
        for tk, cnt_ in sorted(tokc.items())]
check("cms_token_counts", pd.DataFrame(rows))

# q7_volume: directed nation-pair trade volume per ship year
nname = dict(zip(na.n_nationkey, na.n_name))
cust_nat = dict(zip(cu.c_custkey, cu.c_nationkey))
years = pd.DatetimeIndex(li.l_shipdate).year
acc = {}
for okey, sk, p, d, yr in zip(li.l_orderkey, li.l_suppkey,
                              li.l_extendedprice, li.l_discount, years):
    if okey not in o2c:
        continue
    sn = nname.get(sup_nat.get(sk))
    cn = nname.get(cust_nat.get(o2c[okey]))
    if (sn, cn) in (("NATION_0", "NATION_1"), ("NATION_1", "NATION_0")):
        k = (sn, cn, int(yr))
        acc[k] = acc.get(k, Decimal(0)) + dq(p * (1 - d), 4)
f = pd.DataFrame([{"supp_nation": sn, "cust_nation": cn, "l_year": np.int32(yr),
                   "volume": rN(float(v), 4)}
                  for (sn, cn, yr), v in sorted(acc.items())],
                 columns=["supp_nation", "cust_nation", "l_year", "volume"])
f["l_year"] = f["l_year"].astype(dump("q7_volume").l_year.dtype)
check("q7_volume", f)

# q12_priority_late: late/on-time split at order date + 60 days
pri_of = dict(zip(od.o_orderkey, od.o_orderpriority))
od_date = dict(zip(od.o_orderkey, od.o_orderdate.values))
sixty = np.timedelta64(60, "D")
acc = {}
for okey, sd_ in zip(li.l_orderkey, li.l_shipdate.values):
    if okey not in pri_of:
        continue
    late = sd_ > od_date[okey] + sixty
    l, o_ = acc.get(pri_of[okey], (0, 0))
    acc[pri_of[okey]] = (l + late, o_ + (not late))
f = pd.DataFrame([{"o_orderpriority": pr, "late_count": np.int64(l),
                   "ontime_count": np.int64(o_)}
                  for pr, (l, o_) in sorted(acc.items())])
check("q12_priority_late", f)

# q17_small_qty: lines under half their part's average quantity
pqty = {}
for pk, q in zip(li.l_partkey, li.l_quantity):
    s_, n = pqty.get(pk, (Decimal(0), 0))
    pqty[pk] = (s_ + dq(q, 2), n + 1)
avgq = {pk: float(s_) / n for pk, (s_, n) in pqty.items()}
rev2, nl = Decimal(0), 0
for pk, q, p in zip(li.l_partkey, li.l_quantity, li.l_extendedprice):
    if q < 0.5 * avgq[pk]:
        rev2 += dq(p, 2)
        nl += 1
check("q17_small_qty", pd.DataFrame(
    [{"small_qty_revenue": rN(float(rev2), 2), "n_lines": np.int64(nl)}]))

# dedup_simhash: 61-bit majority signature, 4x16-bit bands, hamming <= 3
M61 = 2305843009213693951
def simhash61(txt):
    hs = [(poly_hash(tk) * 2654435761 + 986244679) % M61 for tk in txt.split(" ")]
    sig = 0
    for b in range(61):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hs)
        if votes > 0:
            sig |= 1 << b
    return sig
sigs = {did: simhash61(txt) for did, txt in zip(dc.doc_id, dc.text)}
sb = {}
for did, sig in sigs.items():
    for b in range(4):
        sb.setdefault((b, (sig >> (b * 16)) & 65535), []).append(did)
scand = set()
for ids in sb.values():
    ids = sorted(ids)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            scand.add((ids[i], ids[j]))
rows = [{"a_id": a, "b_id": b,
         "dist": np.int32(bin(sigs[a] ^ sigs[b]).count("1"))}
        for a, b in sorted(scand)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3]
f = pd.DataFrame(rows, columns=["a_id", "b_id", "dist"])
if len(f):
    f["dist"] = f["dist"].astype("int32")
check("dedup_simhash", f)

# dedup_ngram_jaccard: exact all-pairs Jaccard over doc_id < 500
sub = {did: sh for did, sh in doc_shset.items() if did < 500}
rows = []
for a in sorted(sub):
    for b in sorted(sub):
        if a >= b:
            continue
        inter = len(sub[a] & sub[b])
        j = rN(inter / (len(sub[a]) + len(sub[b]) - inter), 6)
        if j >= 0.2:
            rows.append({"a_id": a, "b_id": b, "jaccard": j})
check("dedup_ngram_jaccard", pd.DataFrame(rows, columns=["a_id", "b_id", "jaccard"]))

# q8_mktshare: NATION_2 share of ASIA revenue per order year
asia_cust = set(cu[cu.c_nationkey.map(dict(zip(na.n_nationkey, na.n_regionkey)))
                   .isin(asia)].c_custkey)
oyear = dict(zip(od.o_orderkey, pd.DatetimeIndex(od.o_orderdate).year))
accn, acct = {}, {}
for okey, sk, p, d in zip(li.l_orderkey, li.l_suppkey,
                          li.l_extendedprice, li.l_discount):
    if okey not in o2c or o2c[okey] not in asia_cust:
        continue
    yr = int(oyear[okey])
    v = dq(p * (1 - d), 4)
    acct[yr] = acct.get(yr, Decimal(0)) + v
    if nname.get(sup_nat.get(sk)) == "NATION_2":
        accn[yr] = accn.get(yr, Decimal(0)) + v
f = pd.DataFrame([{"o_year": np.int32(yr),
                   "mkt_share": ratioR(int(accn.get(yr, Decimal(0)) * 10000),
                                       int(tv * 10000), 6)}
                  for yr, tv in sorted(acct.items())],
                 columns=["o_year", "mkt_share"])
f["o_year"] = f["o_year"].astype(dump("q8_mktshare").o_year.dtype)
check("q8_mktshare", f)

# q19_disjunctive: OR-of-ANDs post-join filter
psize = dict(zip(pt.p_partkey, pt.p_size))
pbrand = dict(zip(pt.p_partkey, pt.p_brand))
rev3, nl3 = Decimal(0), 0
for pk, q, p, d in zip(li.l_partkey, li.l_quantity,
                       li.l_extendedprice, li.l_discount):
    if pk not in pbrand:
        continue
    br, sz = pbrand[pk], psize[pk]
    hit = (br == "Brand#1" and 1 <= sz <= 10 and 1 <= q <= 15) or \
          (br == "Brand#13" and 5 <= sz <= 25 and 5 <= q <= 25) or \
          (br == "Brand#20" and 10 <= sz <= 50 and 10 <= q <= 35)
    if hit:
        rev3 += dq(p * (1 - d), 4)
        nl3 += 1
check("q19_disjunctive", pd.DataFrame(
    [{"revenue": rN(float(rev3), 4), "n_lines": np.int64(nl3)}]))

# --- r8 continuation: the plain relational families --------------------

# agg_count_distinct
check("agg_count_distinct", pd.DataFrame([{
    "distinct_flag": np.int64(li.l_returnflag.nunique()),
    "distinct_supp": np.int64(li.l_suppkey.nunique()),
    "distinct_part": np.int64(li.l_partkey.nunique()),
    "total": np.int64(len(li))}]))

# agg_approx_distinct: exact counts; sketch-band booleans must be True
check("agg_approx_distinct", pd.DataFrame([{
    "exact_part": np.int64(li.l_partkey.nunique()),
    "exact_order": np.int64(li.l_orderkey.nunique()),
    "part_within_5pct": True, "order_within_5pct": True}]))

# agg_percentile: exact linear-interpolation percentiles + in-band flags
qv = li.l_quantity.astype(float).values
check("agg_percentile", pd.DataFrame([{
    "qty_p10": rN(float(np.percentile(qv, 10, method="linear")), 6),
    "qty_p50": rN(float(np.percentile(qv, 50, method="linear")), 6),
    "qty_p90": rN(float(np.percentile(qv, 90, method="linear")), 6),
    "p10_within_5pct": True, "p50_within_5pct": True,
    "p90_within_5pct": True}]))

# agg_min_max_range
ep = li.l_extendedprice.astype(float)
check("agg_min_max_range", pd.DataFrame([{
    "min_price": rN(float(ep.min()), 2), "max_price": rN(float(ep.max()), 2),
    "value_range": rN(float(ep.max()) - float(ep.min()), 2),
    "min_supp": np.int64(li.l_suppkey.min()),
    "max_supp": np.int64(li.l_suppkey.max())}]))

# agg_stats_moments (sample stddev / Pearson corr / mean over part)
pr = pt.p_retailprice.astype(float).values
ps = pt.p_size.astype(float).values
check("agg_stats_moments", pd.DataFrame([{
    "price_stddev": rN(float(np.std(pr, ddof=1)), 4),
    "size_price_corr": rN(float(np.corrcoef(ps, pr)[0, 1]), 4),
    "price_avg": rN(float(np.mean(pr)), 4)}]))

# agg_grouping_sets: (flag,status) / (flag) / () with hand-built gid
rows = []
g2 = li.groupby(["l_returnflag", "l_linestatus"]).l_quantity.agg(["size", "sum"])
for (fl, st), r in g2.iterrows():
    rows.append({"gid": np.int32(0), "flag": fl, "status": st,
                 "cnt": np.int64(r["size"]), "sum_qty": float(r["sum"])})
g1 = li.groupby("l_returnflag").l_quantity.agg(["size", "sum"])
for fl, r in g1.iterrows():
    rows.append({"gid": np.int32(1), "flag": fl, "status": "ALL",
                 "cnt": np.int64(r["size"]), "sum_qty": float(r["sum"])})
rows.append({"gid": np.int32(3), "flag": "ALL", "status": "ALL",
             "cnt": np.int64(len(li)), "sum_qty": float(li.l_quantity.sum())})
f = pd.DataFrame(rows).sort_values(["gid", "flag", "status"])
f["gid"] = f["gid"].astype("int32")
check("agg_grouping_sets", f)

# join_anti: customers with no orders
has_order = set(od.o_custkey)
f = cu[~cu.c_custkey.isin(has_order)][["c_custkey", "c_mktsegment"]] \
    .sort_values("c_custkey")
check("join_anti", f)

# join_broadcast_left: every order row, customer attrs (rounded) or null
cmap = cu.set_index("c_custkey")
f = pd.DataFrame({
    "o_orderkey": od.o_orderkey,
    "c_mktsegment": [cmap.c_mktsegment.get(k) for k in od.o_custkey],
    "c_acctbal": [rN(float(cmap.c_acctbal[k]), 2) if k in cmap.index else np.nan
                  for k in od.o_custkey]}).sort_values("o_orderkey")
check("join_broadcast_left", f)

# join_full_outer: per-nation customer vs supplier counts, zero-coalesced
nc = cu.groupby("c_nationkey").size()
ns = su.groupby("s_nationkey").size()
f = pd.DataFrame([{"nationkey": k,
                   "n_customers": np.int64(nc.get(k, 0)),
                   "n_suppliers": np.int64(ns.get(k, 0))}
                  for k in sorted(set(nc.index) | set(ns.index))])
f["nationkey"] = f["nationkey"].astype("int32")
check("join_full_outer", f)

# join_null_safe: NULLIF(tax,0) keys joined null-safely to NULLIF(disc,0)
ak = li.l_tax.where(li.l_tax != 0.0, np.nan)
bk = li.l_discount.where(li.l_discount != 0.0, np.nan)
acnt = ak.value_counts(dropna=False).to_dict()
bcnt = bk.value_counts(dropna=False).to_dict()
# dict keys: NaN keys collapse via value_counts(dropna=False) index — rebuild
def null_counts(s):
    out = {}
    for v in s:
        key = "NULL" if pd.isna(v) else float(v)
        out[key] = out.get(key, 0) + 1
    return out
acnt, bcnt = null_counts(ak), null_counts(bk)
rows = [{"tax_key": (np.nan if k == "NULL" else k),
         "n_left": np.int64(n), "n_right": np.int64(bcnt[k])}
        for k, n in acnt.items() if k in bcnt]
f = pd.DataFrame(rows).sort_values("tax_key", na_position="first")
check("join_null_safe", f)

# join_skew_salted: oracle is the PLAIN lineitem⋈supplier rollup
sj = li.merge(su, left_on="l_suppkey", right_on="s_suppkey")
f = sj.groupby("s_nationkey").agg(
    n_lines=("l_quantity", "size"), sum_qty=("l_quantity", "sum")) \
    .reset_index().sort_values("s_nationkey")
f["n_lines"] = f["n_lines"].astype("int64")
f["sum_qty"] = f["sum_qty"].astype(float)
check("join_skew_salted", f)

# join_bucketed_colocated: orders⋈customer revenue rollup (decimal money)
oj = od.merge(cu, left_on="o_custkey", right_on="c_custkey")
rows = []
for seg, grp in oj.groupby("c_mktsegment"):
    rev = sum((dq(p, 2) for p in grp.o_totalprice), Decimal(0))
    rows.append({"c_mktsegment": seg, "n_orders": np.int64(len(grp)),
                 "revenue": rN(float(rev), 2)})
check("join_bucketed_colocated",
      pd.DataFrame(rows).sort_values("c_mktsegment"))

# set operations on nation keys
ckeys, skeys = set(cu.c_nationkey), set(su.s_nationkey)
f = pd.DataFrame({"nationkey": sorted(ckeys - skeys)})
f["nationkey"] = f["nationkey"].astype("int32")
check("setop_except", f)
f = pd.DataFrame({"nationkey": sorted(ckeys & skeys)})
f["nationkey"] = f["nationkey"].astype("int32")
check("setop_intersect", f)
f = pd.DataFrame({"nationkey": sorted(ckeys | skeys)})
f["nationkey"] = f["nationkey"].astype("int32")
check("setop_union_distinct", f)

# window_ntile: quartiles over (price, key) total order
so = od.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
n = len(so)
base, extra = divmod(n, 4)
tiles = np.concatenate([np.full(base + (1 if i < extra else 0), i + 1)
                        for i in range(4)])
so["tile"] = tiles
f = so.groupby("tile").o_totalprice.agg(["size", "min", "max"]).reset_index()
f = pd.DataFrame({"tile": f.tile.astype("int32"),
                  "cnt": f["size"].astype("int64"),
                  "lo": [rN(v, 2) for v in f["min"]],
                  "hi": [rN(v, 2) for v in f["max"]]})
check("window_ntile", f)

# window_rank_family: per-status top-5 by (price desc, key asc); the order
# key is unique, so rank == dense_rank == row_number
rows = []
for st, grp in od.groupby("o_orderstatus"):
    grp = grp.sort_values(["o_totalprice", "o_orderkey"],
                          ascending=[False, True]).reset_index(drop=True)
    m = len(grp)
    for i in range(min(5, m)):
        rows.append({"o_orderstatus": st, "rn": np.int32(i + 1),
                     "o_orderkey": np.int64(grp.o_orderkey[i]),
                     "rnk": np.int64(i + 1), "drnk": np.int64(i + 1),
                     "prnk": rN(i / (m - 1), 6) if m > 1 else 0.0,
                     "cdist": rN((i + 1) / m, 6)})
f = pd.DataFrame(rows).sort_values(["o_orderstatus", "rn"])
check("window_rank_family", f)

# window_range_frame: value-based ±1000 frame via sorted searchsorted
rows = []
for st, grp in od.groupby("o_orderstatus"):
    prices = np.sort(grp.o_totalprice.values)
    sel = grp[grp.o_orderkey < 300]
    for _, r in sel.iterrows():
        lo = np.searchsorted(prices, r.o_totalprice - 1000, side="left")
        hi = np.searchsorted(prices, r.o_totalprice + 1000, side="right")
        rows.append({"o_orderstatus": st, "o_orderkey": np.int64(r.o_orderkey),
                     "price": rN(float(r.o_totalprice), 2),
                     "n_near": np.int64(hi - lo)})
f = pd.DataFrame(rows).sort_values(["o_orderstatus", "o_orderkey"])
check("window_range_frame", f)

# transform_zscore: explicit-variance z over the flag partition
rows = []
for fl, grp in li.groupby("l_returnflag"):
    q = grp.l_quantity.astype(float)
    nn, s, ss = float(len(q)), float(q.sum()), float((q * q).sum())
    sel = grp[grp.l_orderkey < 500]
    for _, r in sel.iterrows():
        z = (r.l_quantity - s / nn) / math.sqrt((ss - s * s / nn) / (nn - 1))
        rows.append({"l_returnflag": fl, "l_orderkey": np.int64(r.l_orderkey),
                     "l_linenumber": np.int32(r.l_linenumber),
                     "l_quantity": float(r.l_quantity), "z": rN(z, 6)})
f = pd.DataFrame(rows).sort_values(
    ["l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"])
check("transform_zscore", f)

# transform_pivot: year × returnflag quantity sums (declared values A/N/R)
yr = pd.DatetimeIndex(li.l_shipdate).year
pv = li.assign(yr=yr).pivot_table(index="yr", columns="l_returnflag",
                                  values="l_quantity", aggfunc="sum")
f = pd.DataFrame({"yr": pv.index.astype("int32"),
                  "A": pv.get("A", np.nan), "N": pv.get("N", np.nan),
                  "R": pv.get("R", np.nan)}).reset_index(drop=True) \
    .sort_values("yr")
check("transform_pivot", f)

# transform_unpivot: wide→long stack of two part metrics
rows = []
for _, r in pt.iterrows():
    rows.append({"p_partkey": np.int64(r.p_partkey),
                 "metric": "p_retailprice", "val": float(r.p_retailprice)})
    rows.append({"p_partkey": np.int64(r.p_partkey),
                 "metric": "p_size", "val": float(r.p_size)})
f = pd.DataFrame(rows).sort_values(["p_partkey", "metric"])
check("transform_unpivot", f)

# transform_zorder: Morton interleave of 16-bit (partkey, suppkey)
def spread16(c):
    c = (c | (c << 8)) & 0x00FF00FF
    c = (c | (c << 4)) & 0x0F0F0F0F
    c = (c | (c << 2)) & 0x33333333
    return (c | (c << 1)) & 0x55555555
zv = [spread16(int(p) % 65536) | (spread16(int(s) % 65536) << 1)
      for p, s in zip(li.l_partkey, li.l_suppkey)]
f = li.assign(zval=zv)[["l_orderkey", "l_linenumber", "l_partkey",
                        "l_suppkey", "zval"]] \
    .sort_values(["zval", "l_orderkey", "l_linenumber"]).head(20)
f["zval"] = f["zval"].astype("int64")
check("transform_zorder", f)

# sql_end_to_end: the canned decimal-exact q1 shape
sel = li[li.l_shipdate >= np.datetime64("1995-01-01")]
rows = []
for fl, grp in sel.groupby("l_returnflag"):
    sq = sum((dq(q, 2) for q in grp.l_quantity), Decimal(0))
    rows.append({"l_returnflag": fl, "sum_qty": rN(float(sq), 2),
                 "cnt": np.int64(len(grp))})
check("sql_end_to_end", pd.DataFrame(rows).sort_values("l_returnflag"))

# expr_to_json: Spark to_json(struct(...)) literal render
sel = ev[ev.event_id < 50].sort_values("event_id")
f = pd.DataFrame({
    "event_id": sel.event_id.astype("int64"),
    "j": [f'{{"event_id":{i},"event_type":"{t_}"}}'
          for i, t_ in zip(sel.event_id, sel.event_type)]})
check("expr_to_json", f)

# expr_regexp_extract_all: digit runs per doc < 200
sel = dc[dc.doc_id < 200].sort_values("doc_id")
ms = [re.findall(r"[0-9]+", t_) for t_ in sel.text]
f = pd.DataFrame({"doc_id": sel.doc_id.astype("int64"),
                  "n_matches": np.int64([len(m) for m in ms]),
                  "first_match": [m[0] if m else "" for m in ms]})
check("expr_regexp_extract_all", f)

# expr_date_arith: +90d / add_months(-2) with EOM clamp / datediff sums
import calendar as _cal
from datetime import date as _date, timedelta as _td
def add_months(d, m):
    mo = d.month - 1 + m
    y = d.year + mo // 12
    mo = mo % 12 + 1
    return _date(y, mo, min(d.day, _cal.monthrange(y, mo)[1]))
ref = _date(1996, 6, 1)
rows = []
for y, grp in li.groupby(pd.DatetimeIndex(li.l_shipdate).year):
    ds = [d.date() for d in pd.DatetimeIndex(grp.l_shipdate)]
    rows.append({"ship_year": np.int32(y), "cnt": np.int64(len(ds)),
                 "min_plus90": min(d + _td(days=90) for d in ds),
                 "max_minus2m": max(add_months(d, -2) for d in ds),
                 "days_to_ref": np.int64(sum((ref - d).days for d in ds))})
f = pd.DataFrame(rows).sort_values("ship_year")
g = dump("expr_date_arith")
for c in ("min_plus90", "max_minus2m"):  # parquet date32 reads back as object
    f[c] = pd.Series(f[c].values).astype(g[c].dtype) \
        if g[c].dtype != object else f[c]
check("expr_date_arith", f)

# expr_array_hof: filter/exists/sequential-fold L2 over vec_id < 100
emq = t("embeddings")
sel = emq[emq.vec_id < 100].sort_values("vec_id")
rows = []
for _, r in sel.iterrows():
    v = np.asarray(r.embedding, dtype=np.float64)
    l2 = math.sqrt(np.cumsum(v * v)[-1]) if len(v) else 0.0
    rows.append({"vec_id": np.int64(r.vec_id),
                 "n_pos": np.int64((v > 0).sum()),
                 "has_big": bool((v > 0.3).any()), "l2": rN(l2, 6)})
check("expr_array_hof", pd.DataFrame(rows))

# expr_map_ops: per-source token-map probes reduced to scalars
rows = []
for src, grp in dc.groupby("source"):
    toks = [tk for txt in grp.text for tk in txt.split(" ")]
    rows.append({"source": src,
                 "the_cnt": np.int64(sum(1 for tk in toks if tk == "the")),
                 "n_distinct_toks": np.int32(len(set(toks))),
                 "total_toks": np.int64(len(toks))})
check("expr_map_ops", pd.DataFrame(rows).sort_values("source"))

# json_struct_roundtrip: to_json→from_json identity via direct props parse
import json as _json
ks = [int(_json.loads(p)["k"]) for p in ev.props]
f = ev.assign(k=ks).groupby("event_type").k.agg(["size", "sum"]).reset_index()
f = pd.DataFrame({"event_type": f.event_type,
                  "cnt": f["size"].astype("int64"),
                  "k_sum": f["sum"].astype("int64")}).sort_values("event_type")
check("json_struct_roundtrip", f)

# split_train_test: murmur3(seed 42) pmod 100 < 80
splits = ["train" if ((murmur_long(int(v), 42) % 100) + 100) % 100 < 80
          else "test" for v in dc.doc_id]
f = dc.assign(split=splits).groupby("split").doc_id \
    .agg(["size", "min", "max"]).reset_index()
f = pd.DataFrame({"split": f["split"], "n": f["size"].astype("int64"),
                  "min_id": f["min"].astype("int64"),
                  "max_id": f["max"].astype("int64")}).sort_values("split")
check("split_train_test", f)

# drift_psi: population stability index over doc-length buckets,
# src0-9 (ref) vs src10-19 (cand), +0.5 Laplace smoothing
dp = dc.assign(side=["ref" if int(s_[3:]) < 10 else "cand" for s_ in dc.source],
               bucket=[min(int(n) // 50, 12) for n in dc.n_chars])
dp_c = dp.groupby("bucket").agg(
    n_ref=("side", lambda x: int((x == "ref").sum())),
    n_cand=("side", lambda x: int((x == "cand").sum()))).reset_index()
dp_ta, dp_tb, dp_nb = int(dp_c.n_ref.sum()), int(dp_c.n_cand.sum()), len(dp_c)
dp_p = (dp_c.n_ref + 0.5) / (dp_ta + 0.5 * dp_nb)
dp_q = (dp_c.n_cand + 0.5) / (dp_tb + 0.5 * dp_nb)
dp_term = (dp_p - dp_q) * np.log(dp_p / dp_q)
f = pd.DataFrame({
    "bucket": dp_c["bucket"].astype("int32"),
    "n_ref": dp_c["n_ref"].astype("int64"),
    "n_cand": dp_c["n_cand"].astype("int64"),
    "psi_term": [rN(v, 6) for v in dp_term],
    "psi_total": rN(float(dp_term.sum()), 6),
}).sort_values("bucket")
check("drift_psi", f)

# shard_manifest: murmur3(seed 42) pmod 16 shard assignment + per-shard
# manifest (count, total chars, id range, integer-exact balance ratio)
sm = dc.assign(shard=[((murmur_long(int(v), 42) % 16) + 16) % 16
                      for v in dc.doc_id])
sm_g = sm.groupby("shard").agg(
    n_docs=("doc_id", "size"), total_chars=("n_chars", "sum"),
    min_id=("doc_id", "min"), max_id=("doc_id", "max")).reset_index()
sm_all, sm_n = int(sm_g.n_docs.sum()), len(sm_g)
f = pd.DataFrame({
    "shard": sm_g["shard"].astype("int32"),
    "n_docs": sm_g["n_docs"].astype("int64"),
    "total_chars": sm_g["total_chars"].astype("int64"),
    "min_id": sm_g["min_id"].astype("int64"),
    "max_id": sm_g["max_id"].astype("int64"),
    "balance_r": [ratioR(int(n) * sm_n, sm_all, 6) for n in sm_g.n_docs],
}).sort_values("shard")
check("shard_manifest", f)

# multimodal_frames: ceil(utf8 byte length / 256) synthetic frame count
f = pd.DataFrame({
    "doc_id": dc.doc_id.astype("int64"),
    "n_frames": [np.int64(math.ceil(len(t_.encode("utf-8")) / 256.0))
                 for t_ in dc.text]}).sort_values("doc_id")
check("multimodal_frames", f)

# --- r8 continuation: text / documents / events families ---------------

# quality_score: the shared 0.4/0.3/0.3 quality formula per doc
f = pd.DataFrame({"doc_id": dc.doc_id.astype("int64"),
                  "quality": [quality(t_) for t_ in dc.text]}) \
    .sort_values("doc_id")
check("quality_score", f)

# doc_lm_quality: unigram-LM mean corpus probability, integer sums
tok_lists = {did: txt.split(" ") for did, txt in zip(dc.doc_id, dc.text)}
corpus_cnt = {}
for toks in tok_lists.values():
    for tk in toks:
        corpus_cnt[tk] = corpus_cnt.get(tk, 0) + 1
NTOK = sum(corpus_cnt.values())
rows = []
for did in sorted(tok_lists):
    toks = tok_lists[did]
    s = sum(corpus_cnt[tk] for tk in toks)
    rows.append({"doc_id": np.int64(did), "n_tok": np.int64(len(toks)),
                 "lm_score": ratioR(s, len(toks) * NTOK, 9)})
check("doc_lm_quality", pd.DataFrame(rows))

# lang_id_ngram: trigram-occurrence argmax (replace-length-delta counting)
TRI = [("de", ["er ", "der", "ein", "ich", "sch"]),
       ("en", ["the", "he ", "ing", "and", " th"]),
       ("es", ["os ", "el ", "ión", "ent", "de "]),
       ("fr", ["le ", "es ", "ent", "une", "eur"]),
       ("zh", ["的", "是", "了", "我", "在"])]
def tri_pred(txt):
    sc = [sum((len(txt) - len(txt.replace(p, ""))) // len(p) for p in ps)
          for _, ps in TRI]
    for i, (lang, _) in enumerate(TRI):
        if all(sc[i] >= sc[j] for j in range(i + 1, len(TRI))):
            return lang
    return TRI[-1][0]
f = pd.Series([tri_pred(t_) for t_ in dc.text]).value_counts() \
    .rename_axis("lang_pred").reset_index(name="cnt").sort_values("lang_pred")
f["cnt"] = f["cnt"].astype("int64")
check("lang_id_ngram", f)

# pii_redact: inject → detect → scrub
EMAIL, PHONE = r"[a-z0-9]+@[a-z0-9.]+", r"555-[0-9]{4}"
rows = []
for did, txt in zip(dc.doc_id, dc.text):
    raw = txt
    if did % 3 == 0:
        raw += f" contact u{did}@mail.test"
    if did % 5 == 0:
        raw += f" call 555-{did % 10000:04d}"
    clean = re.sub(PHONE, "<PHONE>", re.sub(EMAIL, "<EMAIL>", raw))
    rows.append({"doc_id": np.int64(did),
                 "had_email": np.int32(1 if re.search(EMAIL, raw) else 0),
                 "had_phone": np.int32(1 if re.search(PHONE, raw) else 0),
                 "clean": clean})
check("pii_redact", pd.DataFrame(rows).sort_values("doc_id"))

# text_stats_by_source: count / mean / exact median of n_chars
rows = []
for src, grp in dc.groupby("source"):
    v = grp.n_chars.astype(float).values
    rows.append({"source": src, "n_docs": np.int64(len(v)),
                 "avg_chars": ratioR(int(grp.n_chars.sum()), len(v), 6),
                 "median_chars": rN(float(np.percentile(v, 50, method="linear")), 6)})
check("text_stats_by_source", pd.DataFrame(rows).sort_values("source"))

# filter_length_outliers: corpus-wide [P05, P95] n_chars band per source
ncv = dc.n_chars.astype(float).values
p05 = float(np.percentile(ncv, 5, method="linear"))
p95 = float(np.percentile(ncv, 95, method="linear"))
rows = []
for src, grp in dc.groupby("source"):
    kept = grp[(grp.n_chars >= p05) & (grp.n_chars <= p95)]
    rows.append({"source": src, "n_docs": np.int64(len(grp)),
                 "n_kept": np.int64(len(kept)),
                 "avg_kept_chars": (ratioR(int(kept.n_chars.sum()), len(kept), 2)
                                    if len(kept) else np.nan)})
check("filter_length_outliers", pd.DataFrame(rows).sort_values("source"))

# length_bucket_batches: (source, 16-wide token bucket) → batches of 8
d = pd.DataFrame({"doc_id": dc.doc_id, "source": dc.source,
                  "n_tok": [len(t_.split(" ")) for t_ in dc.text]})
d["bucket"] = (d.n_tok // 16) * 16
rows = []
for (src, bk), grp in d.groupby(["source", "bucket"]):
    grp = grp.sort_values("doc_id").reset_index(drop=True)
    grp["batch_id"] = grp.index // 8
    for bid, bg in grp.groupby("batch_id"):
        rows.append({"source": src, "bucket": np.int32(bk),
                     "batch_id": np.int32(bid), "n_docs": np.int64(len(bg)),
                     "max_tok": np.int32(bg.n_tok.max()),
                     "sum_tok": np.int64(bg.n_tok.sum())})
check("length_bucket_batches",
      pd.DataFrame(rows).sort_values(["source", "bucket", "batch_id"]))

# dedup_incremental: 8-token head fingerprints vs the historical index
headfp = {did: " ".join(txt.split(" ")[:8]) for did, txt in zip(dc.doc_id, dc.text)}
hist = {headfp[d_] for d_ in dc.doc_id if d_ % 10 < 7}
rows = {}
for _, r in dc.iterrows():
    if r.doc_id % 10 < 7:
        continue
    nn, kp, dr = rows.get(r.source, (0, 0, 0))
    dup = headfp[r.doc_id] in hist
    rows[r.source] = (nn + 1, kp + (0 if dup else 1), dr + (1 if dup else 0))
check("dedup_incremental", pd.DataFrame(
    [{"source": s, "n_new": np.int64(a), "n_kept": np.int64(b),
      "n_dropped": np.int64(c)} for s, (a, b, c) in sorted(rows.items())]))

# decontaminate_ngram: any shared 5-shingle with the eval split (doc<20)
def shset(txt, w):
    sp = txt.split(" ")
    if len(sp) < w:
        return {txt}
    return {" ".join(sp[i:i + w]) for i in range(len(sp) - w + 1)}
bench = set()
for did, txt in zip(dc.doc_id, dc.text):
    if did < 20:
        bench |= shset(txt, 5)
rows = {}
for did, txt, src in zip(dc.doc_id, dc.text, dc.source):
    if did < 20:
        continue
    nn, nc = rows.get(src, (0, 0))
    rows[src] = (nn + 1, nc + (1 if shset(txt, 5) & bench else 0))
check("decontaminate_ngram", pd.DataFrame(
    [{"source": s, "n_train": np.int64(a), "n_contaminated": np.int64(b)}
     for s, (a, b) in sorted(rows.items())]))

# sample_topk_stratum: 5 smallest-Knuth-hash docs per source
P2 = 1000003
hk = [((((int(v) % P2) + P2) % P2) * 2654435761 + 12345) % P2
      for v in dc.doc_id]
d = dc.assign(hk=hk)
keep = []
for src, grp in d.groupby("source"):
    keep.extend(grp.sort_values(["hk", "doc_id"]).head(5).doc_id.tolist())
f = d[d.doc_id.isin(keep)][["doc_id", "source"]].sort_values("doc_id")
check("sample_topk_stratum", f)

# sessionize_batch: 30-min-gap sessions per user over epoch-µs times
tus_all = ev.ts.astype("int64")  # datetime64[us] → µs
sess_rows = []
for uid, grp in ev.assign(tus=tus_all).groupby("user_id"):
    grp = grp.sort_values(["tus", "event_id"])
    cur = []
    prev = None
    for t_ in grp.tus:
        if prev is not None and t_ - prev > 1800000000:
            sess_rows.append((uid, cur))
            cur = []
        cur.append(t_)
        prev = t_
    if cur:
        sess_rows.append((uid, cur))
f = pd.DataFrame([{"user_id": np.int64(u), "session_start": np.int64(min(c) // 1000000),
                   "session_end": np.int64(max(c) // 1000000),
                   "n_events": np.int64(len(c))} for u, c in sess_rows]) \
    .sort_values(["user_id", "session_start"])
check("sessionize_batch", f)

# range_join: two data-derived ns-windows per type; join on TIME ONLY
tns = tus_all * 1000
b = ev.assign(tns=tns).groupby("event_type").tns.agg(["min", "max"])
ivs = []
for it, r in b.iterrows():
    lo0, hi0 = int(r["min"]), int(r["max"])
    ivs.append((it, 0, lo0, lo0 + (hi0 - lo0) // 4))
    ivs.append((it, 1, lo0 + (hi0 - lo0) // 2, lo0 + ((hi0 - lo0) * 3) // 4))
rows = []
evt = list(zip(tns, ev.value))
for it, iid, lo, hi in ivs:
    hit = [v for t_, v in evt if lo <= t_ <= hi]
    rows.append({"itype": it, "iid": np.int32(iid),
                 "n_events": np.int64(len(hit)),
                 "sum_value": float(sum((dq(v, 6) for v in hit), Decimal(0)))})
check("range_join", pd.DataFrame(rows).sort_values(["itype", "iid"]))

# asof_join: purchase → latest prior-or-equal signup per user (ms)
tms = tus_all // 1000
evm = ev.assign(tms=tms)
sg = evm[evm.event_type == "signup"]
sg_by_user = {u: sorted(g.tms.tolist()) for u, g in sg.groupby("user_id")}
import bisect as _bisect
rows = []
for _, r in evm[evm.event_type == "purchase"].iterrows():
    ts_list = sg_by_user.get(r.user_id, [])
    i = _bisect.bisect_right(ts_list, r.tms)
    gap = (r.tms - ts_list[i - 1]) if i > 0 else np.nan
    rows.append({"event_id": np.int64(r.event_id),
                 "user_id": np.int64(r.user_id), "gap_ms": gap})
check("asof_join", pd.DataFrame(rows).sort_values("event_id"))

# fuzzy_name_pairs: first-word blocking + edit distance ≤ 5
def lev(a, b):
    m, n2 = len(a), len(b)
    prev = list(range(n2 + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n2
        for j in range(1, n2 + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n2]
names = sorted(set(pt.p_name))
blocks = {}
for nm in names:
    blocks.setdefault(nm.split(" ")[0], []).append(nm)
rows = []
for blk in blocks.values():
    for i in range(len(blk)):
        for j in range(i + 1, len(blk)):
            a, bnm = blk[i], blk[j]
            dl = lev(a, bnm)
            if dl <= 5:
                rows.append({"name_a": a, "name_b": bnm, "dist": np.int32(dl)})
check("fuzzy_name_pairs",
      pd.DataFrame(rows).sort_values(["name_a", "name_b"]))

# stream_usage_window: hourly tumbling counts (epoch-second starts)
ws = (tus_all // 3600000000) * 3600
f = ev.assign(window_start=ws).groupby(["window_start", "event_type"]) \
    .size().reset_index(name="cnt").sort_values(["window_start", "event_type"])
f["window_start"] = f["window_start"].astype("int64")
f["cnt"] = f["cnt"].astype("int64")
check("stream_usage_window", f)

# stream_sliding_window: 1 h windows sliding by 15 min (×4 replication)
agg = {}
for t_, et in zip(tus_all, ev.event_type):
    base = t_ // 900000000
    for i in range(4):
        w = (base - i) * 900000000
        if w <= t_ < w + 3600000000:
            agg[(w // 1000000, et)] = agg.get((w // 1000000, et), 0) + 1
f = pd.DataFrame([{"window_start": np.int64(w), "event_type": et,
                   "cnt": np.int64(c)} for (w, et), c in sorted(agg.items())])
check("stream_sliding_window", f)

# sink round trips: the aggregates themselves (layout is Spark-side)
rows = []
for pri, grp in od.groupby("o_orderpriority"):
    tp = sum((dq(p, 2) for p in grp.o_totalprice), Decimal(0))
    rows.append({"o_orderpriority": pri, "cnt": np.int64(len(grp)),
                 "total_price": rN(float(tp), 2)})
check("sink_csv", pd.DataFrame(rows).sort_values("o_orderpriority"))
rows = []
for seg, grp in cu.groupby("c_mktsegment"):
    tb = sum((dq(v, 2) for v in grp.c_acctbal), Decimal(0))
    rows.append({"c_mktsegment": seg, "cnt": np.int64(len(grp)),
                 "total_bal": rN(float(tb), 2)})
check("sink_json", pd.DataFrame(rows).sort_values("c_mktsegment"))
rows = []
for br, grp in pt.groupby("p_brand"):
    tp = sum((dq(v, 2) for v in grp.p_retailprice), Decimal(0))
    rows.append({"p_brand": br, "cnt": np.int64(len(grp)),
                 "total_price": rN(float(tp), 2)})
check("sink_orc", pd.DataFrame(rows).sort_values("p_brand"))

# write_partitioned: month-partitioned write read back = month rollup
mon = pd.DatetimeIndex(li.l_shipdate).to_period("M").to_timestamp()
rows = []
for m, grp in li.assign(m=mon).groupby("m"):
    sq = sum((dq(q, 2) for q in grp.l_quantity), Decimal(0))
    rows.append({"ship_month": m.date(), "cnt": np.int64(len(grp)),
                 "sum_qty": rN(float(sq), 2)})
f = pd.DataFrame(rows).sort_values("ship_month")
g = dump("write_partitioned")
if g["ship_month"].dtype != object:
    f["ship_month"] = f["ship_month"].astype(g["ship_month"].dtype)
check("write_partitioned", f)

# layout_compact: row multiset identical to the source supplier table
f = su.sort_values("s_suppkey").reset_index(drop=True)
check("layout_compact", f)

# multimodal_features / multimodal_resize: rasters from generator params
rows_f, rows_r = [], []
for did in sorted(dc.doc_id):
    did = int(did)
    w, h = 8 + did % 24, 8 + (did * 3) % 24
    k = np.arange(w * h, dtype=np.int64)
    base = (31 * did + 7 * (k % w) + 13 * (k // w)) % 256
    ssum = int(base.sum() + ((base + 85) % 256).sum() + ((base + 170) % 256).sum())
    rows_f.append({"doc_id": np.int64(did), "width": np.int32(w),
                   "height": np.int32(h), "channels": np.int32(3),
                   "sample_sum": np.int64(ssum)})
    k = np.arange(256, dtype=np.int64)
    sx = ((k % 16) * w) // 16
    sy = ((k // 16) * h) // 16
    rsum = int(((31 * did + 7 * sx + 13 * sy) % 256).sum())
    rows_r.append({"doc_id": np.int64(did), "width": np.int32(16),
                   "height": np.int32(16), "thumb_bytes": np.int32(256),
                   "sample_sum": np.int64(rsum)})
check("multimodal_features", pd.DataFrame(rows_f))
check("multimodal_resize", pd.DataFrame(rows_r))

# token_cooccurrence: ±4-token window lift, top-50
pos_toks = {did: toks for did, toks in tok_lists.items()}
pair_cnt = {}
for toks in pos_toks.values():
    L = len(toks)
    for i in range(L):
        for dlt in range(1, 5):
            j = i + dlt
            if j >= L:
                break
            a, bt = toks[i], toks[j]
            if a == bt:
                continue
            key = (min(a, bt), max(a, bt))
            pair_cnt[key] = pair_cnt.get(key, 0) + 1
rows = []
for (a, bt), c in pair_cnt.items():
    if c < 5:
        continue
    rows.append({"tok_a": a, "tok_b": bt, "pair_cnt": np.int64(c),
                 "lift": ratioR(c * NTOK, corpus_cnt[a] * corpus_cnt[bt], 6)})
f = pd.DataFrame(rows).sort_values(
    ["lift", "tok_a", "tok_b"], ascending=[False, True, True]).head(50)
check("token_cooccurrence", f)

# token_cooccurrence_doc: document-frequency lift, top-50
doc_sets = {did: set(toks) for did, toks in tok_lists.items()}
dfreq = {}
for stt in doc_sets.values():
    for tk in stt:
        dfreq[tk] = dfreq.get(tk, 0) + 1
pdocs = {}
for stt in doc_sets.values():
    ss = sorted(stt)
    for i in range(len(ss)):
        for j in range(i + 1, len(ss)):
            key = (ss[i], ss[j])
            pdocs[key] = pdocs.get(key, 0) + 1
NDOC = len(dc)
rows = []
for (a, bt), c in pdocs.items():
    if c < 5:
        continue
    rows.append({"tok_a": a, "tok_b": bt, "pair_docs": np.int64(c),
                 "lift": ratioR(c * NDOC, dfreq[a] * dfreq[bt], 6)})
f = pd.DataFrame(rows).sort_values(
    ["lift", "tok_a", "tok_b"], ascending=[False, True, True]).head(50)
check("token_cooccurrence_doc", f)

# --- r8 continuation: embedding / vector family ------------------------
# All dot products and norms are SEQUENTIAL left folds (np.cumsum), the
# order both engines use (Spark aggregate(), DuckDB list_sum) — pairwise
# or BLAS summation could flip a value sitting on a rounding boundary.

VEC = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
       for _, r in emq.iterrows()}
VLBL = dict(zip(emq.vec_id.astype(int), emq.label))
def seqsum(a):
    return float(np.cumsum(a)[-1]) if len(a) else 0.0
def seqdot(a, b):
    return float(np.cumsum(a * b)[-1])
NRM = {i: math.sqrt(seqsum(v * v)) for i, v in VEC.items()}

# embed_normalize: L2 norm + normalized head-8 sum
rows = [{"vec_id": np.int64(i), "l2_norm": rN(NRM[i], 6),
         "head8_sum": rN(0.0 if NRM[i] == 0 else seqsum(VEC[i][:8]) / NRM[i], 6)}
        for i in sorted(VEC)]
check("embed_normalize", pd.DataFrame(rows))

# agg_vector_centroid: per-(label, 1-based dim) mean in long format
cent_acc = {}
for i, v in VEC.items():
    lb = VLBL[i]
    s_, n = cent_acc.get(lb, (np.zeros(64), 0))
    cent_acc[lb] = (s_ + v, n + 1)
rows = []
for lb in sorted(cent_acc):
    s_, n = cent_acc[lb]
    for p in range(64):
        rows.append({"label": lb, "pos": np.int32(p + 1),
                     "centroid": rN(s_[p] / n, 6)})
check("agg_vector_centroid", pd.DataFrame(rows))

# simsearch_topk / simsearch_quant: brute-force and int8 cosine top-10
Q0 = VEC[0]
def topk_rows(score_of, n=10):
    rws = sorted(((score_of(i), i) for i in VEC if i != 0),
                 key=lambda x: (-x[0], x[1]))[:n]
    return rws
ex_rows = topk_rows(lambda i: rN(seqdot(VEC[i], Q0) / (NRM[i] * NRM[0]), 6))
check("simsearch_topk", pd.DataFrame(
    [{"vec_id": np.int64(i), "cos": c} for c, i in ex_rows]))

QZ = {}
for i, v in VEC.items():
    ma = float(np.max(np.abs(v))) if len(v) else 0.0
    QZ[i] = np.zeros_like(v) if ma == 0 else np.floor(v / (ma / 127) + 0.5)
QN = {i: math.sqrt(seqsum(q * q)) for i, q in QZ.items()}
qz_rows = topk_rows(lambda i: rN(seqdot(QZ[i], QZ[0]) / (QN[i] * QN[0]), 6))
check("simsearch_quant", pd.DataFrame(
    [{"vec_id": np.int64(i), "qcos": c} for c, i in qz_rows]))

# simsearch_ivf + ann_recall_at_k: first-16 centroids, L2 probe ranking
def ivf_assign(n_cent):
    cents = [(ci, VEC[ci], seqsum(VEC[ci] * VEC[ci])) for ci in range(n_cent)]
    assign = {}
    for i, v in VEC.items():
        best = min(((seqdot(v, cv) * -2.0 + c2, ci) for ci, cv, c2 in cents))
        assign[i] = best[1]
    return cents, assign
cents16, asg16 = ivf_assign(16)
probe_order = sorted((seqsum((cv - Q0) * (cv - Q0)), ci)
                     for ci, cv, _ in cents16)
def ivf_top10(n_probe):
    probed = {ci for _, ci in probe_order[:n_probe]}
    cand = [(rN(seqdot(VEC[i], Q0) / (NRM[i] * NRM[0]), 6), i)
            for i in VEC if i != 0 and asg16[i] in probed]
    return sorted(cand, key=lambda x: (-x[0], x[1]))[:10]
check("simsearch_ivf", pd.DataFrame(
    [{"vec_id": np.int64(i), "cos": c} for c, i in ivf_top10(4)]))

brute10 = {i for _, i in ex_rows}
rows = []
for p in (2, 4):
    got = ivf_top10(p)
    hits = sum(1 for _, i in got if i in brute10)
    rows.append({"n_probe": np.int32(p), "k": np.int64(len(got)),
                 "n_hit": np.int64(hits), "recall": ratioR(hits, len(got), 6)})
check("ann_recall_at_k", pd.DataFrame(rows))

# simjoin_exact: all pairs under the id cap at rounded cos >= 0.30
ids_sorted = sorted(i for i in VEC if i < 500)
rows = []
for ai_idx in range(len(ids_sorted)):
    a = ids_sorted[ai_idx]
    for b in ids_sorted[ai_idx + 1:]:
        c = rN(seqdot(VEC[a], VEC[b]) / (NRM[a] * NRM[b]), 6)
        if c >= 0.30:
            rows.append({"a_id": np.int64(a), "b_id": np.int64(b), "cos": c})
check("simjoin_exact", pd.DataFrame(rows, columns=["a_id", "b_id", "cos"])
      .sort_values(["a_id", "b_id"]))

# simjoin_ann: banded random-hyperplane LSH — 8 bands of corpus-scaled r
# planes (r = clamp(ceil(log2(ceil(n/8))), 8, 30), n = raw embeddings rows),
# candidates deduped across bands, verified with exact sequential-fold cos
ANN_TGT = max(1, (len(emq) + 7) // 8)
ANN_R = max(8, min(30, (ANN_TGT - 1).bit_length()))
ANN_BANDS = 8


def ann_plane(q):
    return np.array([(i * 2654435761 + q * 2246822519 + i * q * 3266489917)
                     % 1000 - 500 for i in range(64)], dtype=np.float64)


by_bucket = {}
for i in sorted(VEC):
    if NRM[i] <= 0.0:
        continue
    for band in range(ANN_BANDS):
        bkt = sum((1 << j) for j in range(ANN_R)
                  if seqdot(VEC[i], ann_plane(band * ANN_R + j)) >= 0.0)
        by_bucket.setdefault((band, bkt), []).append(i)
ann_cand = set()
for ids in by_bucket.values():
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            ann_cand.add((ids[x], ids[y]))
ann_pairs = []
for a, b in sorted(ann_cand):
    c = rN(seqdot(VEC[a], VEC[b]) / (NRM[a] * NRM[b]), 6)
    if c >= 0.25:
        ann_pairs.append((a, b, c))
check("simjoin_ann", pd.DataFrame(
    [{"a_id": np.int64(a), "b_id": np.int64(b), "cos": c}
     for a, b, c in sorted(ann_pairs)], columns=["a_id", "b_id", "cos"]))

# knn_join: probes vec_id<8 ranked against the disjoint corpus, top-3
rows = []
for qid in range(8):
    cand = [(rN(seqdot(VEC[i], VEC[qid]) / (NRM[i] * NRM[qid]), 6), i)
            for i in VEC if i >= 8]
    for rk, (c, i) in enumerate(
            sorted(cand, key=lambda x: (-x[0], x[1]))[:3], start=1):
        rows.append({"q_id": np.int64(qid), "rank": np.int32(rk),
                     "vec_id": np.int64(i), "cos": c})
check("knn_join", pd.DataFrame(rows).sort_values(["q_id", "rank"]))

# kmeans_iterate: one E+M step from the first-8 seed
cents8, asg8 = ivf_assign(8)
km_acc = {}
for i, v in VEC.items():
    cl = asg8[i]
    s_, n = km_acc.get(cl, (np.zeros(64), 0))
    km_acc[cl] = (s_ + v, n + 1)
rows = []
for cl in sorted(km_acc):
    s_, n = km_acc[cl]
    for p in range(64):
        rows.append({"cluster": np.int32(cl), "pos": np.int32(p + 1),
                     "centroid": rN(s_[p] / n, 6), "n": np.int64(n)})
check("kmeans_iterate", pd.DataFrame(rows))

# embedding_pca_power: 3 power-iteration rounds on the mean-centered
# embeddings, v0 = 1/sqrt(64) — same algorithm, independent numpy arithmetic
pca_X = np.stack([VEC[i] for i in sorted(VEC)])
pca_mu = pca_X.mean(axis=0)
pca_Xc = pca_X - pca_mu
pca_v = np.full(64, 1.0 / np.sqrt(64.0))
pca_lam = 0.0
for _ in range(3):
    pca_w = pca_Xc.T @ (pca_Xc @ pca_v)
    pca_n = np.sqrt((pca_w * pca_w).sum())
    if pca_n == 0.0:
        break
    pca_lam = pca_n / (len(pca_X) - 1)
    pca_v = pca_w / pca_n
check("embedding_pca_power", pd.DataFrame(
    [{"pos": np.int32(j + 1), "loading": rN(pca_v[j], 6),
      "eigenvalue": rN(pca_lam, 6)} for j in range(64)]))

# embedding_abtt: strip mean + the top component above, cosine top-10 vs
# query vec 0 — rank on the ROUNDED similarity with vec_id tiebreak, the
# engine/oracle ordering contract
abtt_X = pca_Xc - np.outer(pca_Xc @ pca_v, pca_v)
abtt_ids = sorted(VEC)
abtt_q = abtt_X[abtt_ids.index(0)]
abtt_qn = np.sqrt((abtt_q * abtt_q).sum())
abtt_rows = []
for _i, _vid in enumerate(abtt_ids):
    if _vid == 0:
        continue
    _x = abtt_X[_i]
    _n = np.sqrt((_x * _x).sum())
    if _n == 0.0:
        continue
    abtt_rows.append((int(_vid), rN((_x @ abtt_q) / (_n * abtt_qn), 6)))
abtt_rows.sort(key=lambda t: (-t[1], t[0]))
check("embedding_abtt", pd.DataFrame(
    [{"vec_id": np.int64(v), "cos": c} for v, c in abtt_rows[:10]]))

# rank_fusion_rrf: RRF(k=60) of the exact and quantized top-10
rrf_acc = {}
for rk, (_, i) in enumerate(ex_rows, start=1):
    rrf_acc[i] = [rk, 0]
for rk, (_, i) in enumerate(qz_rows, start=1):
    rrf_acc.setdefault(i, [0, 0])[1] = rk
rows = []
for i, (re_, rq) in rrf_acc.items():
    score = (1.0 / (60 + re_) if re_ else 0.0) + (1.0 / (60 + rq) if rq else 0.0)
    rows.append({"vec_id": np.int64(i), "rrf": rN(score, 9),
                 "r_exact": np.int32(re_), "r_quant": np.int32(rq)})
f = pd.DataFrame(rows).sort_values(["rrf", "vec_id"], ascending=[False, True])
check("rank_fusion_rrf", f)

# dedup_embedding_cosine: drop later members of cos>=0.9 pairs
dups = set()
for ai_idx in range(len(ids_sorted)):
    a = ids_sorted[ai_idx]
    for b in ids_sorted[ai_idx + 1:]:
        if rN(seqdot(VEC[a], VEC[b]) / (NRM[a] * NRM[b]), 6) >= 0.9:
            dups.add(b)
rows = [{"vec_id": np.int64(i), "label": VLBL[i]}
        for i in ids_sorted if i not in dups]
check("dedup_embedding_cosine", pd.DataFrame(rows))

# decontaminate_embedding: max rounded cos to the eval split per vector
ev_ids = [i for i in VEC if i < 20]
rows_acc = {}
for i in VEC:
    if i < 20:
        continue
    mc = max(rN(seqdot(VEC[i], VEC[j]) / (NRM[i] * NRM[j]), 6)
             for j in ev_ids)
    n, fl = rows_acc.get(VLBL[i], (0, 0))
    rows_acc[VLBL[i]] = (n + 1, fl + (1 if mc >= 0.35 else 0))
check("decontaminate_embedding", pd.DataFrame(
    [{"label": lb, "n_train": np.int64(n), "n_flagged": np.int64(fl)}
     for lb, (n, fl) in sorted(rows_acc.items())]))

# graph_pagerank: 5 integer fixed-point iterations over the ANN graph
edges = [(a, b) for a, b, _ in ann_pairs] + [(b, a) for a, b, _ in ann_pairs]
deg = {}
for s_, _ in edges:
    deg[s_] = deg.get(s_, 0) + 1
rank = {i: 1000000 for i in deg}
for _ in range(5):
    contrib = {}
    for s_, d_ in edges:
        contrib[d_] = contrib.get(d_, 0) + rank[s_] // deg[s_]
    rank = {i: 150000 + (850 * contrib[i]) // 1000
            for i in deg if i in contrib}
rows = [{"vec_id": np.int64(i), "deg": np.int64(deg[i]),
         "rank": np.int64(rank[i])} for i in sorted(rank)]
check("graph_pagerank", pd.DataFrame(rows))

# --- r8 continuation: clustering + calibration curves ------------------

# dedup_cluster / cluster_keep_policy: components over EXACT Jaccard>=0.2
# — these keys CAP at doc_id < 500 (the audit coincided with "all docs"
# at sf0.01, where the corpus is exactly 500 docs; at sf0.1 it is not)
sub500 = sorted(did for did in doc_shset if did < 500)
ex_pairs_02 = []
doc_ids_sorted = sub500
for xi in range(len(doc_ids_sorted)):
    a = doc_ids_sorted[xi]
    for b in doc_ids_sorted[xi + 1:]:
        if rN(jaccard(a, b), 6) >= 0.2:
            ex_pairs_02.append((a, b))
par2 = {did: did for did in sub500}
def find2(x):
    while par2[x] != x:
        par2[x] = par2[par2[x]]
        x = par2[x]
    return x
for a, b in ex_pairs_02:
    ra, rb = find2(a), find2(b)
    if ra != rb:
        par2[max(ra, rb)] = min(ra, rb)
lab2 = {did: find2(did) for did in sub500}
siz2 = {}
for lb in lab2.values():
    siz2[lb] = siz2.get(lb, 0) + 1
check("dedup_cluster", pd.DataFrame(
    [{"doc_id": did, "cluster_id": lb, "cluster_size": np.int64(siz2[lb])}
     for did, lb in sorted(lab2.items())]))

qual_of = {did: quality(txt) for did, txt in zip(dc.doc_id, dc.text)}
best = {}
for did, lb in lab2.items():
    cur = best.get(lb)
    cand = (-qual_of[did], did)
    if cur is None or cand < cur:
        best[lb] = cand
check("cluster_keep_policy", pd.DataFrame(
    [{"cluster_id": lb, "kept_doc_id": did, "cluster_size": np.int64(siz2[lb]),
      "kept_quality": -negq}
     for lb, (negq, did) in sorted(best.items())]))

# lsh_recall_curve: banding recall vs exact ground truth per threshold
# (also capped at doc_id < 500 on both the exact and the banded side;
# band-bucket pairs restrict cleanly because membership is per-doc)
exact_j = {}
for xi in range(len(doc_ids_sorted)):
    a = doc_ids_sorted[xi]
    for b in doc_ids_sorted[xi + 1:]:
        j = rN(jaccard(a, b), 6)
        if j >= 0.05:
            exact_j[(a, b)] = j
cands500 = {(a, b) for (a, b) in cands if b < 500}
rows = []
for th in (0.05, 0.2, 0.7):
    sel = [(pr, j) for pr, j in exact_j.items() if j >= th]
    hits = sum(1 for pr, _ in sel if pr in cands500)
    rows.append({"thresh": float(th), "n_exact": np.int64(len(sel)),
                 "n_hit": np.int64(hits), "recall": ratioR(hits, len(sel), 6)})
check("lsh_recall_curve", pd.DataFrame(rows))

# cms_error_curve: count-min overestimate vs sketch width
rows = []
for w_ in (16, 64):
    cells_w = [{} for _ in range(5)]
    buck_w = {}
    for tk, cnt_ in tokc.items():
        th = poly_hash(tk)
        for i in (1, 2, 3, 4):
            bkt = ((((i * 2654435761) % P) * th + (i * 40503 + 17) % P) % P) % w_
            buck_w[(tk, i)] = bkt
            cells_w[i][bkt] = cells_w[i].get(bkt, 0) + cnt_
    ests = {tk: min(cells_w[i][buck_w[(tk, i)]] for i in (1, 2, 3, 4))
            for tk in tokc}
    overs = [ests[tk] - tokc[tk] for tk in tokc]
    rows.append({"w": np.int32(w_), "n_tokens": np.int64(len(tokc)),
                 "n_exact": np.int64(sum(1 for o_ in overs if o_ == 0)),
                 "max_over": np.int64(max(overs)),
                 "total_over": np.int64(sum(overs))})
check("cms_error_curve", pd.DataFrame(rows))

# --- r8 continuation: catalog / query-log / advisor core ---------------

REF_TABLES = [(0, "lineitem"), (1, "orders"), (1, "lineitem"),
              (2, "customer"), (3, "orders"), (4, "supplier"), (4, "nation")]
REF_COLS = [(0, "l_returnflag", 2), (0, "l_quantity", 1), (0, "l_shipdate", 1),
            (1, "o_orderkey", 2), (1, "l_quantity", 1), (1, "l_orderkey", 1),
            (1, "o_totalprice", 1), (2, "c_mktsegment", 2),
            (3, "o_orderdate", 1), (3, "o_orderstatus", 1),
            (4, "s_name", 1), (4, "s_nationkey", 1), (4, "n_nationkey", 1),
            (4, "n_name", 1)]
REF_JOIN = [(1, "o_orderkey", 1), (1, "l_orderkey", 1),
            (4, "s_nationkey", 1), (4, "n_nationkey", 1)]
REF_WHERE = [(0, "l_shipdate", 1), (1, "o_totalprice", 1),
             (3, "o_orderdate", 1), (3, "o_orderstatus", 1), (4, "n_name", 1)]
PROFILED = ["lineitem", "orders", "customer", "part", "supplier"]
DDLS = {
    "lineitem": "CREATE MATERIALIZED VIEW lineitem AS SELECT * FROM lineitem_src JOIN orders_src ON l_orderkey = o_orderkey;",
    "orders": "CREATE MATERIALIZED VIEW orders AS SELECT * FROM orders_src JOIN customer_src ON o_custkey = c_custkey;",
    "customer": "CREATE MATERIALIZED VIEW customer AS SELECT * FROM customer_src JOIN nation_src ON c_nationkey = n_nationkey;",
    "part": "CREATE MATERIALIZED VIEW part AS SELECT * FROM part_src WHERE p_size > 0;",
    "supplier": "CREATE MATERIALIZED VIEW supplier AS SELECT * FROM supplier_src JOIN nation_src ON s_nationkey = n_nationkey;"}
DDL_JOIN_COLS = ["l_orderkey", "o_orderkey", "o_custkey", "c_custkey",
                 "c_nationkey", "n_nationkey", "s_nationkey", "n_nationkey"]

# scan_querylog_sorted: top-20 by execution time
f = ql.sort_values(["exec_ms", "query_id"],
                   ascending=[False, True]).head(20)
f = pd.DataFrame({"query_id": f.query_id.astype("int64"),
                  "execution_time_ms": f.exec_ms.astype("int64"),
                  "cpu_time_ms": f.cpu_ms.astype("int64"),
                  "input_bytes": f.in_b.astype("int64")})
check("scan_querylog_sorted", f)

# per-qk qlog rollups feed the three usage keys
qk_of = (ql.query_id % 5).astype(int)
k_exec = ql.groupby(qk_of).exec_ms.sum().to_dict()
k_cnt = ql.groupby(qk_of).size().to_dict()

# agg_table_rollup: per-table execution totals
acc = {}
for k, name in REF_TABLES:
    e_, c_ = acc.get(name, (0, 0))
    acc[name] = (e_ + k_exec.get(k, 0), c_ + k_cnt.get(k, 0))
check("agg_table_rollup", pd.DataFrame(
    [{"table": n2, "execution_time": np.int64(e_), "query_count": np.int64(c_)}
     for n2, (e_, c_) in sorted(acc.items())]))

# agg_column_weight: every (table, column) combo within a query key
colw = {}
for k, tname in REF_TABLES:
    for k2, cname, cnt_ in REF_COLS:
        if k2 == k:
            colw[(tname, cname)] = colw.get((tname, cname), 0) + \
                k_exec.get(k, 0) * cnt_
check("agg_column_weight", pd.DataFrame(
    [{"table": tb, "column": cl, "weight": np.int64(w_)}
     for (tb, cl), w_ in sorted(colw.items())]))

# agg_weighted_frequency: metadata mentions + workload table references
PROF_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"]}
usage = {}
for tb in PROFILED:
    for c_ in PROF_COLS[tb]:
        usage[c_] = usage.get(c_, 0) + 1
for c_ in DDL_JOIN_COLS:
    usage[c_] = usage.get(c_, 0) + 1
for k, name in REF_TABLES:
    usage[name] = usage.get(name, 0) + k_cnt.get(k, 0)
f = pd.DataFrame([{"name": n2, "weighted_frequency": np.int64(w_)}
                  for n2, w_ in usage.items()]) \
    .sort_values(["weighted_frequency", "name"], ascending=[False, True])
check("agg_weighted_frequency", f)

# parse_query_columns: parser ground truth weighted by run counts
refs_all = [(k, "col", n2, c_) for k, n2, c_ in REF_COLS] + \
           [(k, "join_col", n2, c_) for k, n2, c_ in REF_JOIN] + \
           [(k, "where_col", n2, c_) for k, n2, c_ in REF_WHERE] + \
           [(k, "table", n2, 1) for k, n2 in REF_TABLES]
acc = {}
for k, kind, n2, c_ in refs_all:
    acc[(kind, n2)] = acc.get((kind, n2), 0) + c_ * k_cnt.get(k, 0)
check("parse_query_columns", pd.DataFrame(
    [{"kind": kd, "name": n2, "total": np.int64(v)}
     for (kd, n2), v in sorted(acc.items())]))

# parse_trino_dialect: hand-derived sqlglot-equivalent ground truth for the
# twelve canned Trino-only texts (surface.AdvisorKeys.trinoDialectTexts) — one row per
# (text, kind, name). Independent hand derivation: read each text, apply
# Trino semantics (ARRAY[...] is a literal, "x" is an identifier, UNNEST's
# argument columns are references, AT TIME ZONE is an operator over both
# operands, ROW(...)/TRY(...) are plain calls, MATCH_RECOGNIZE ranges over
# its single FROM-clause input and its pattern variables are not columns),
# list what sqlglot would extract.
TRINO_REFS = [
    (0, "table", "events", 1), (0, "where_col", "user_id", 1),
    (1, "table", "orders", 1), (1, "where_col", "o_totalprice", 1),
    (2, "table", "orders", 1),
    (3, "table", "lineitem", 1), (3, "where_col", "l_quantity", 1),
    (4, "table", "events", 1), (4, "where_col", "value", 1),
    (5, "table", "documents", 1), (5, "where_col", "doc_id", 1),
    (6, "join_col", "l_orderkey", 1), (6, "join_col", "o_orderkey", 1),
    (6, "table", "lineitem", 1), (6, "table", "orders", 1),
    (6, "where_col", "o_custkey", 1),
    (7, "table", "events", 1), (7, "where_col", "ts", 1),
    (8, "table", "orders", 1),
    (8, "where_col", "o_clerk", 1), (8, "where_col", "o_custkey", 1),
    (9, "table", "events", 1), (9, "where_col", "props", 1),
    (10, "table", "orders", 1), (10, "where_col", "o_custkey", 1),
    (11, "table", "events", 1), (11, "where_col", "user_id", 1),
]
check("parse_trino_dialect", pd.DataFrame(
    [{"qk": np.int32(qk), "kind": kd, "name": n2, "cnt": np.int64(c_)}
     for qk, kd, n2, c_ in sorted(TRINO_REFS)]))

# scan_catalog_views / scan_catalog_live / scan_columns_meta: rebuild the
# catalog rows straight from the parquet FOOTERS via pyarrow (independent
# of both Spark's reader and the static oracle VALUES)
ARROW2SPARK = {"int64": "bigint", "int32": "int", "double": "double",
               "string": "string", "large_string": "string",
               "timestamp[us]": "timestamp_ntz", "timestamp[ns]": "bigint"}
cat_rows, meta_rows = [], []
for tb in PROFILED:
    sch = pq.read_schema(f"{sf}/{tb}.parquet")
    for i, (nm, ty) in enumerate(zip(sch.names, sch.types)):
        cat_rows.append({"table_name": tb, "column_name": nm,
                         "ordinal_position": np.int32(i + 1)})
        meta_rows.append({"table_name": tb, "column_name": nm,
                          "data_type": ARROW2SPARK[str(ty)],
                          "ordinal_position": np.int32(i + 1)})
f = pd.DataFrame(cat_rows).sort_values(["table_name", "ordinal_position"])
check("scan_catalog_views", f)
check("scan_catalog_live", f)
check("scan_columns_meta",
      pd.DataFrame(meta_rows).sort_values(["table_name", "ordinal_position"]))

# expr_ddl_extract: first case-insensitive " AS " split, trimmed
rows = []
for v in sorted(PROFILED):
    m = re.match(r"(?is)^.*? AS (.*)$", DDLS[v])
    rows.append({"view": v, "select_sql": m.group(1).strip(" \n;")})
check("expr_ddl_extract", pd.DataFrame(rows))

# score_partition / emit_partition_scripts: the advisor's scoring chain
TBL_DF = {"lineitem": li, "orders": od, "customer": cu,
          "part": pt, "supplier": su}
NUM_TYPES = {"bigint", "int", "double"}
COLTYPES = {
    "lineitem": dict(zip(PROF_COLS["lineitem"],
        ["bigint", "bigint", "bigint", "int", "double", "double", "double",
         "double", "string", "string", "timestamp_ntz"])),
    "orders": dict(zip(PROF_COLS["orders"],
        ["bigint", "bigint", "string", "double", "timestamp_ntz", "string"])),
    "customer": dict(zip(PROF_COLS["customer"],
        ["bigint", "string", "int", "double", "string"])),
    "supplier": dict(zip(PROF_COLS["supplier"],
        ["bigint", "string", "int", "double"])),
    "part": dict(zip(PROF_COLS["part"],
        ["bigint", "string", "string", "string", "int", "double"]))}
# pri: average interactive priority per referenced table
pri_acc = {}
is_inter = [("LIMIT" in CANNED[k].upper()) or (e < 10000)
            for k, e in zip(qk_of, ql.exec_ms)]
for k, name in REF_TABLES:
    rows_k = [2.0 if b else 1.0
              for kk, b in zip(qk_of, is_inter) if kk == k]
    s_, n = pri_acc.get(name, (0.0, 0))
    pri_acc[name] = (s_ + sum(rows_k), n + len(rows_k))
pri = {n2: s_ / n for n2, (s_, n) in pri_acc.items() if n > 0}
score_rows, spec_input = [], []
for tb in PROFILED:
    df_t = TBL_DF[tb]
    cols = PROF_COLS[tb]
    first5num = {c_ for c_ in cols[:5] if COLTYPES[tb][c_] in NUM_TYPES}
    for c_ in cols:
        ty = COLTYPES[tb][c_]
        v = df_t[c_]
        card, total = v.nunique(), len(v)
        mn = float(v.min()) if ty in NUM_TYPES else None
        mx = float(v.max()) if ty in NUM_TYPES else None
        p10 = p90 = None
        if c_ in first5num:
            fv = v.astype(float).values
            p10 = float(np.percentile(fv, 10, method="linear"))
            p90 = float(np.percentile(fv, 90, method="linear"))
        day_cnt = month_cnt = year_cnt = None
        if ty in ("timestamp_ntz", "timestamp", "date"):
            di = pd.DatetimeIndex(v)
            day_cnt, month_cnt, year_cnt = (di.day.nunique(),
                                            di.month.nunique(),
                                            di.year.nunique())
        band = 5.0 if card < 10 else 10.0 if card < 100 else \
            8.0 if card < 1000 else 5.0 if card < 10000 else 1.0
        score = float(usage.get(c_, 0)) + band \
            + min(colw.get((tb, c_), 0) / 1000.0, 50.0) \
            + (pri.get(tb, 1.0) - 1.0) * 5.0
        if p10 is not None:
            ratio = p90 / p10 if (p10 != p90 and p10 != 0) else 1.0
            if ratio > 10.0:
                score -= 3.0
            if card / total > 0.9:
                score -= 2.0
        score_rows.append({"view": tb, "column": c_, "score": rN(score, 6)})
        spec_input.append((tb, c_, ty, card, mn, mx,
                           day_cnt, month_cnt, year_cnt, score))
check("score_partition",
      pd.DataFrame(score_rows).sort_values(["view", "column"]))

by_view = {}
for tb, c_, ty, card, mn, mx, dcnt, mcnt, ycnt, score in spec_input:
    if score > 0:
        by_view.setdefault(tb, []).append((-score, c_, ty, card, mn, mx,
                                           dcnt, mcnt, ycnt))
rows = []
for tb in sorted(by_view):
    specs = []
    for negs, c_, ty, card, mn, mx, dcnt, mcnt, ycnt in \
            sorted(by_view[tb])[:3]:
        if ty in ("date", "timestamp", "timestamp_ntz"):
            g = "month" if dcnt is None else \
                ("day" if dcnt > mcnt * 20 else
                 "month" if mcnt > ycnt * 8 else "year")
            specs.append(f"{g}({c_})")
        elif ty == "string":
            specs.append(f"bucket(16, {c_})" if card > 10000 else c_)
        elif ty in ("int", "bigint"):
            if card > 1000:
                nb = min(max(int(card // 500), 4), 32)
                specs.append(f"bucket({nb}, {c_})")
            elif ((mx - mn) if mn is not None else 0) > 10000:
                specs.append(f"truncate({c_}, 100)")
            else:
                specs.append(c_)
        else:
            specs.append(c_)
    rows.append({"view": tb, "partition_spec": ",\n    ".join(specs)})
check("emit_partition_scripts", pd.DataFrame(rows))

# bpe_merge_step: frequency-weighted adjacent char pairs, top-20
pc = {}
for tok, c in corpus_cnt.items():
    if len(tok) >= 2:
        for i in range(len(tok) - 1):
            p = tok[i:i + 2]
            pc[p] = pc.get(p, 0) + c
top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
check("bpe_merge_step", pd.DataFrame(
    [{"pair": p, "weighted_cnt": np.int64(c)} for p, c in top]))

# mixture_temperature_weights: sqrt(n_s / n_max) per source
ntok_src = {}
for src, txt in zip(dc.source, dc.text):
    ntok_src[src] = ntok_src.get(src, 0) + len(txt.split(" "))
nmax = max(ntok_src.values())
check("mixture_temperature_weights", pd.DataFrame(
    [{"source": s_, "n_tokens": np.int64(n),
      "weight": rH(math.sqrt(n / nmax), 6)} for s_, n in sorted(ntok_src.items())]))

# corpus_health_report: per-source docs / en fraction / mean quality / dup rate
def qmicros(txt):
    sp = txt.split(" ")
    n = len(sp)
    stop = sum(1 for tk in sp if tk in ("the", "a"))
    sumlen = sum(len(tk) for tk in sp)
    num = 4 * min(n, 100) * n + 300 * stop + 30 * min(sumlen, 10 * n)
    return (2000000 * num + 1000 * n) // (2000 * n)
first_of_text = {}
for did, txt in sorted(zip(dc.doc_id, dc.text)):
    first_of_text.setdefault(txt, did)
hb = {}
for did, txt, src in zip(dc.doc_id, dc.text, dc.source):
    n_, en_, qm_, du_ = hb.get(src, (0, 0, 0, 0))
    hb[src] = (n_ + 1, en_ + (1 if lang_pred(txt) == "en" else 0),
               qm_ + qmicros(txt), du_ + (1 if first_of_text[txt] != did else 0))
check("corpus_health_report", pd.DataFrame(
    [{"source": s_, "n_docs": np.int64(n_),
      "en_frac": ratioR(en_, n_, 6),
      "mean_quality": ratioR(qm_, n_ * 1000000, 6),
      "dup_rate": ratioR(du_, n_, 6)}
     for s_, (n_, en_, qm_, du_) in sorted(hb.items())]))

# vocab_growth_curve: first-occurrence doc per token type → running total
first_doc = {}
for did in sorted(tok_lists):
    for tk in tok_lists[did]:
        if tk not in first_doc:
            first_doc[tk] = did
new_per_doc = {}
for tk, did in first_doc.items():
    new_per_doc[did] = new_per_doc.get(did, 0) + 1
cum = 0
rows = []
for did in sorted(new_per_doc):
    cum += new_per_doc[did]
    rows.append({"doc_id": np.int64(did), "n_new_types": np.int64(new_per_doc[did]),
                 "cum_types": np.int64(cum)})
check("vocab_growth_curve", pd.DataFrame(rows))

# q13_custdist: order counts per customer (left outer, priority-filtered),
# then the distribution of those counts
oc = {}
for ck, pri in zip(od.o_custkey, od.o_orderpriority):
    if pri != "5-LOW":
        oc[ck] = oc.get(ck, 0) + 1
ccount = {ck: oc.get(ck, 0) for ck in cu.c_custkey}
dist = {}
for v in ccount.values():
    dist[v] = dist.get(v, 0) + 1
f = pd.DataFrame(
    [{"c_count": np.int64(k), "custdist": np.int64(v)}
     for k, v in sorted(dist.items(), key=lambda kv: (-kv[1], -kv[0]))])
check("q13_custdist", f)

# q15_top_supplier: per-supplier 1996-Q1 decimal revenue, suppliers at the
# exact decimal max (tie-safe: equality on the Decimal, not the float)
cut96q1 = np.datetime64("1996-01-01T00:00:00")
cut96q2 = np.datetime64("1996-04-01T00:00:00")
m15 = (li.l_shipdate.values >= cut96q1) & (li.l_shipdate.values < cut96q2)
lif = li[m15]
racc = {}
for sk, p, d in zip(lif.l_suppkey, lif.l_extendedprice, lif.l_discount):
    racc[sk] = racc.get(sk, Decimal(0)) + dq(p * (1 - d), 4)
# empty-window / missing-supplier safe, mirroring the SQL twins: an empty
# revenue view yields an empty result, and a suppkey absent from supplier
# drops via the inner-join semantics rather than raising (sname dict is
# the one already built for q21 above)
mx15 = max(racc.values()) if racc else None
f = pd.DataFrame(
    [{"s_suppkey": np.int64(sk), "s_name": sname[sk],
      "total_revenue": rN(float(v), 4)}
     for sk, v in sorted(racc.items()) if v == mx15 and sk in sname],
    columns=["s_suppkey", "s_name", "total_revenue"])
check("q15_top_supplier", f)

# inverted_index: per-token df / total tf / first-16 posting list (df >= 3)
post = {}
for did in sorted(tok_lists):
    per = {}
    for tk in tok_lists[did]:
        per[tk] = per.get(tk, 0) + 1
    for tk, n in per.items():
        post.setdefault(tk, []).append((did, n))
rows = []
for tk in sorted(post):
    pl = sorted(post[tk])
    if len(pl) < 3:
        continue
    rows.append({"token": tk, "df": np.int64(len(pl)),
                 "total_tf": np.int64(sum(n for _, n in pl)),
                 "postings_head": ",".join(str(d) for d, _ in pl[:16])})
check("inverted_index", pd.DataFrame(rows))

# ngram_topk: corpus top-20 contiguous trigrams (count desc, ngram asc)
ngc = {}
for toks in tok_lists.values():
    for i in range(len(toks) - 2):
        ng = f"{toks[i]} {toks[i+1]} {toks[i+2]}"
        ngc[ng] = ngc.get(ng, 0) + 1
top = sorted(ngc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
check("ngram_topk", pd.DataFrame(
    [{"ngram": ng, "cnt": np.int64(c)} for ng, c in top]))

# anomaly_mad: per-type median + MAD outlier screen (numpy 'linear'
# interpolation == Spark percentile == DuckDB median; threshold keeps the
# engines' literal order 3 * 1.4826 * mad)
rows = []
for et, grp in ev.groupby("event_type"):
    v = grp.value.values.astype(np.float64)
    med = np.percentile(v, 50, method="linear")
    mad = np.percentile(np.abs(v - med), 50, method="linear")
    thr = 3 * 1.4826 * mad
    rows.append({"event_type": et, "med_r": rH(med, 6), "mad_r": rH(mad, 6),
                 "n_outliers": np.int64(int((np.abs(v - med) > thr).sum()))})
check("anomaly_mad", pd.DataFrame(rows))

# anomaly_mad_approx: the sketch-banded twin — exact med/MAD/outliers are
# re-derived here; the three band booleans assert Spark's GK sketch against
# Spark's own exact path, so the independent expectation is simply TRUE
# (the sketch is engine-internal, like the HLL in agg_approx_distinct)
rows = []
for et, grp in ev.groupby("event_type"):
    v = grp.value.values.astype(np.float64)
    med = np.percentile(v, 50, method="linear")
    mad = np.percentile(np.abs(v - med), 50, method="linear")
    thr = 3 * 1.4826 * mad
    rows.append({"event_type": et, "med_r": rH(med, 6), "mad_r": rH(mad, 6),
                 "n_outliers": np.int64(int((np.abs(v - med) > thr).sum())),
                 "amed_within_1pct": True, "amad_within_2pct": True,
                 "outliers_within_5pct": True})
check("anomaly_mad_approx", pd.DataFrame(rows))

# partition_size_report: per-candidate partition balance (what-if check)
def psr(candidate, groups):
    from collections import Counter
    sizes = Counter(groups)
    npart, nrows, mx = len(sizes), sum(sizes.values()), max(sizes.values())
    return {"candidate": candidate, "n_partitions": np.int64(npart),
            "n_rows": np.int64(nrows), "max_rows": np.int64(mx),
            "skew_r": ratioR(mx * npart, nrows, 6)}
o_ = t("orders")
mvals = pd.DatetimeIndex(o_.o_orderdate)
rows = [
    psr("mod16(o_custkey)", [((k % 16) + 16) % 16 for k in o_.o_custkey]),
    psr("month(o_orderdate)", list(zip(mvals.year, mvals.month))),
    psr("o_orderstatus", list(o_.o_orderstatus)),
]
check("partition_size_report",
      pd.DataFrame(sorted(rows, key=lambda r: r["candidate"]),
                   columns=["candidate", "n_partitions", "n_rows",
                            "max_rows", "skew_r"]))

# cdc_merge_upsert: latest-wins merge of the event change log by user
rows = []
evi = ev.assign(tns=ev.ts.values.astype("datetime64[ns]").astype("int64"))
for uid, grp in evi.groupby("user_id"):
    top = grp.sort_values(["tns", "event_id"], ascending=False).iloc[0]
    if top.event_type == "error":
        continue
    rows.append({"user_id": np.int64(uid), "last_value": float(top.value),
                 "last_event_id": np.int64(top.event_id),
                 "last_ts_sec": np.int64(tdiv(top.tns, 1000000000)),
                 "n_changes": np.int64(len(grp))})
check("cdc_merge_upsert", pd.DataFrame(rows))

# cohort_retention: distinct (user, epoch-week), cohort = min week per user
ns_ts = ev.ts.values.astype("datetime64[ns]").astype("int64")
wkpairs = sorted(set((u, tdiv(t_, 604800000000000))
                     for u, t_ in zip(ev.user_id, ns_ts)))
cohort = {}
for u, w in wkpairs:
    cohort[u] = min(cohort.get(u, w), w)
cells = {}
for u, w in wkpairs:
    k = (cohort[u], w - cohort[u])
    cells[k] = cells.get(k, 0) + 1
check("cohort_retention", pd.DataFrame(
    [{"cohort_week": np.int64(cw), "week_offset": np.int64(off),
      "n_users": np.int64(n)} for (cw, off), n in sorted(cells.items())]))

# doc_quality_logreg: 12-step full-batch GD distillation of the integer
# quality heuristic (labels exact, teacher-aligned features); the x3
# feature keeps the engine's SEQUENCED sum/n then /10 division order
lr_sp = [s_.split(" ") for s_ in dc.text]
def _lr_qm(sp):
    n = len(sp)
    stop = sum(1 for t_ in sp if t_ in ("the", "a"))
    sl = sum(len(t_) for t_ in sp)
    num = 4 * min(n, 100) * n + 300 * stop + 30 * min(sl, 10 * n)
    den = 1000 * n
    return (2000000 * num + den) // (2 * den)
lr_y = np.array([1.0 if _lr_qm(sp) >= 400000 else 0.0 for sp in lr_sp])
lr_ntok = np.array([max(len(sp), 1) for sp in lr_sp], dtype="float64")
lr_x = np.column_stack([
    np.ones(len(dc)),
    np.minimum([len(sp) for sp in lr_sp], 100) / 100.0,
    np.array([sum(1 for t_ in sp if t_ in ("the", "a")) for sp in lr_sp])
    / lr_ntok,
    np.minimum(np.array([sum(len(t_) for t_ in sp) for sp in lr_sp])
               / lr_ntok / 10.0, 1.0)])
lr_w = np.zeros(4)
for _ in range(12):
    lr_r = lr_y - 1.0 / (1.0 + np.exp(-(lr_x @ lr_w)))
    lr_w = lr_w + 4.0 * (lr_x.T @ lr_r) / len(lr_y)
lr_m = np.array([rH(v, 6) for v in lr_x @ lr_w])
lr_ok = int(((lr_m > 0) == (lr_y == 1.0)).sum())
check("doc_quality_logreg", pd.DataFrame(
    {"pos": np.arange(4, dtype="int32"),
     "weight": [rH(v, 6) for v in lr_w],
     "accuracy": ratioR(lr_ok, len(lr_y), 6)}))

# quality_calibration: reliability curve of the learned filter — bucket by
# ROUNDED predicted probability, observed positive rate per bucket
qc_p = np.array([rH(v, 6) for v in 1.0 / (1.0 + np.exp(-(lr_x @ lr_w)))])
qc_b = np.minimum(np.floor(qc_p * 5).astype(int), 4)
rows = []
for b_ in sorted(set(qc_b)):
    m_ = qc_b == b_
    n_ = int(m_.sum())
    npos = int(lr_y[m_].sum())
    rows.append({"bucket": np.int32(b_), "n_docs": np.int64(n_),
                 "n_pos": np.int64(npos),
                 "mean_pred": rH(float(qc_p[m_].mean()), 6),
                 "pos_rate": ratioR(npos, n_, 6)})
check("quality_calibration", pd.DataFrame(rows))

# lang_id_confusion: marker-intersect argmax vs ground-truth lang label
_conf_markers = [("de", {"der", "und", "die"}), ("en", {"the", "a", "of"}),
                 ("es", {"el", "la", "de"}), ("fr", {"le", "la", "et"}),
                 ("zh", {"的", "是", "了"})]
def _conf_pred(sp):
    toks = set(sp)
    best_l, best_s = _conf_markers[0][0], len(toks & _conf_markers[0][1])
    for l_, ws_ in _conf_markers[1:]:
        s_ = len(toks & ws_)
        if s_ > best_s:
            best_l, best_s = l_, s_
    return best_l
cf = pd.DataFrame({"lang": dc.lang,
                   "lang_pred": [_conf_pred(sp) for sp in lr_sp]})
cf_c = cf.groupby(["lang", "lang_pred"]).size().reset_index(name="n_docs")
cf_t = cf_c.groupby("lang").n_docs.sum().to_dict()
check("lang_id_confusion", pd.DataFrame(
    {"lang": cf_c["lang"], "lang_pred": cf_c["lang_pred"],
     "n_docs": cf_c["n_docs"].astype("int64"),
     "share_of_lang": [ratioR(int(n_), int(cf_t[l_]), 6)
                       for l_, n_ in zip(cf_c.lang, cf_c.n_docs)]}
).sort_values(["lang", "lang_pred"]))

# curation_attrition: per-stage funnel counts (lang → quality → exact-dup)
at_pred = [_conf_pred(sp) for sp in lr_sp]
at_qm = [_lr_qm(sp) for sp in lr_sp]
at_k1 = [p_ == "en" for p_ in at_pred]
at_k2 = [k_ and q_ >= 400000 for k_, q_ in zip(at_k1, at_qm)]
at_n0, at_n1 = len(dc), int(sum(at_k1))
at_n2 = int(sum(at_k2))
at_n3 = len({t_ for t_, k_ in zip(dc.text, at_k2) if k_})
check("curation_attrition", pd.DataFrame(
    [{"stage": "1_lang", "n_in": at_n0, "n_dropped": at_n0 - at_n1, "n_out": at_n1},
     {"stage": "2_quality", "n_in": at_n1, "n_dropped": at_n1 - at_n2, "n_out": at_n2},
     {"stage": "3_exact_dup", "n_in": at_n2, "n_dropped": at_n2 - at_n3, "n_out": at_n3}]
).astype({"n_in": "int64", "n_dropped": "int64", "n_out": "int64"}))

# dedup_ngram_containment: inter/min over distinct 3-shingles, doc_id < 500
csub = {did: sh for did, sh in doc_shset.items() if did < 500}
rows = []
for a in sorted(csub):
    for b in sorted(csub):
        if a >= b:
            continue
        inter = len(csub[a] & csub[b])
        if inter == 0:
            continue
        c = ratioR(inter, min(len(csub[a]), len(csub[b])), 6)
        if c >= 0.5:
            rows.append({"a_id": a, "b_id": b, "containment": c})
check("dedup_ngram_containment",
      pd.DataFrame(rows, columns=["a_id", "b_id", "containment"]))

# tokenizer_fertility: per-lang chars/token and bytes/char, integer-exact
fr = dc.assign(n_tok=[len(sp) for sp in lr_sp],
               n_bytes=[len(s_.encode("utf-8")) for s_ in dc.text]) \
    .groupby("lang").agg(n_docs=("doc_id", "size"),
                         total_tokens=("n_tok", "sum"),
                         total_chars=("n_chars", "sum"),
                         total_bytes=("n_bytes", "sum")).reset_index()
check("tokenizer_fertility", pd.DataFrame(
    {"lang": fr["lang"], "n_docs": fr["n_docs"].astype("int64"),
     "total_tokens": fr["total_tokens"].astype("int64"),
     "total_chars": fr["total_chars"].astype("int64"),
     "total_bytes": fr["total_bytes"].astype("int64"),
     "chars_per_token": [ratioR(c_, t_, 6) for c_, t_ in
                         zip(fr.total_chars, fr.total_tokens)],
     "bytes_per_char": [ratioR(b_, c_, 6) for b_, c_ in
                        zip(fr.total_bytes, fr.total_chars)]}).sort_values("lang"))

# mixture_epochs: α=0.5 weights in micros, 2×-corpus budget allocation,
# epochs in millis — all integer-exact past the single sqrt
me = dc.assign(n_tok=[len(sp) for sp in lr_sp]).groupby("source") \
    .n_tok.sum().reset_index().rename(columns={"n_tok": "n_tokens"})
me_mx = int(me.n_tokens.max())
me_w = [int(rH(math.sqrt(int(v) / me_mx) * 1000000, 0)) for v in me.n_tokens]
me_sw, me_tot = sum(me_w), int(me.n_tokens.sum())
me_alloc = [int(ratioR(2 * me_tot * w_, me_sw, 0)) for w_ in me_w]
check("mixture_epochs", pd.DataFrame(
    {"source": me["source"], "n_tokens": me["n_tokens"].astype("int64"),
     "w_micros": np.array(me_w, dtype="int64"),
     "alloc_tokens": np.array(me_alloc, dtype="int64"),
     "epochs": [ratioR(a_, int(n_), 3) for a_, n_ in
                zip(me_alloc, me.n_tokens)]}).sort_values("source"))

# corpus_diff: snapshot A (drop id%10=3) vs B (drop id%10=7, revise id%5=0)
cd_a = {int(i_): t_ for i_, t_ in zip(dc.doc_id, dc.text) if int(i_) % 10 != 3}
cd_b = {int(i_): (t_ + " rev2" if int(i_) % 5 == 0 else t_)
        for i_, t_ in zip(dc.doc_id, dc.text) if int(i_) % 10 != 7}
cd_src = dict(zip((int(i_) for i_ in dc.doc_id), dc.source))
cd_acc = {}
for i_ in set(cd_a) | set(cd_b):
    s_ = cd_src[i_]
    st = cd_acc.setdefault(s_, [0, 0, 0, 0])
    if i_ not in cd_a:
        st[0] += 1
    elif i_ not in cd_b:
        st[1] += 1
    elif cd_a[i_] != cd_b[i_]:
        st[2] += 1
    else:
        st[3] += 1
check("corpus_diff", pd.DataFrame(
    [{"source": s_, "n_added": np.int64(v[0]), "n_removed": np.int64(v[1]),
      "n_changed": np.int64(v[2]), "n_unchanged": np.int64(v[3])}
     for s_, v in sorted(cd_acc.items())]))

# zipf_fit: OLS of ln(freq) on ln(rank) over the top-30 token types,
# total order (cnt desc, tok asc)
zf_cnt = {}
for sp in lr_sp:
    for t_ in sp:
        zf_cnt[t_] = zf_cnt.get(t_, 0) + 1
zf_top = sorted(zf_cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
zf_x = np.log(np.arange(1, len(zf_top) + 1, dtype="float64"))
zf_y = np.log(np.array([c_ for _, c_ in zf_top], dtype="float64"))
zf_n = float(len(zf_top))
zf_sx, zf_sy = zf_x.sum(), zf_y.sum()
zf_sxy, zf_sxx = (zf_x * zf_y).sum(), (zf_x * zf_x).sum()
zf_slope = (zf_n * zf_sxy - zf_sx * zf_sy) / (zf_n * zf_sxx - zf_sx * zf_sx)
check("zipf_fit", pd.DataFrame(
    [{"n_tokens": np.int32(len(zf_top)), "slope": rH(zf_slope, 6),
      "intercept": rH((zf_sy - zf_slope * zf_sx) / zf_n, 6)}]))

# --- batch-11: cluster-partitioned semantic ops + selection/scheduling ---
# dedup_semantic + cluster_assign_stats share the scaled-k assignment:
# k = max(8, raw_count//256), seeds = first k NONZERO-norm vecs by id.
b11_ids = [i for i in sorted(VEC) if NRM[i] > 0]
b11_k = max(8, len(VEC) // 256)
b11_cents = [(ci, VEC[vid], seqsum(VEC[vid] * VEC[vid]))
             for ci, vid in enumerate(b11_ids[:b11_k])]
b11_asg, b11_m = {}, {}
for i in b11_ids:
    v = VEC[i]
    best = min(((seqdot(v, cv) * -2.0 + c2, ci) for ci, cv, c2 in b11_cents))
    b11_asg[i], b11_m[i] = best[1], best[0]
b11_members = {}
for i in b11_ids:
    b11_members.setdefault(b11_asg[i], []).append(i)
sd_rows = []
sd_dup_all = set()  # reused by dedup_semantic_clean (r14) — same pair loop
for cl in sorted(b11_members):
    mem = b11_members[cl]
    dup = set()
    for x in range(len(mem)):
        for y in range(x + 1, len(mem)):
            a_, b_ = mem[x], mem[y]
            c = rN(seqdot(VEC[a_], VEC[b_]) / (NRM[a_] * NRM[b_]), 6)
            if c >= 0.9:
                dup.add(b_)
    sd_dup_all |= dup
    sd_rows.append({"cluster": np.int32(cl), "n_vecs": np.int64(len(mem)),
                    "n_dup": np.int64(len(dup)),
                    "n_kept": np.int64(len(mem) - len(dup))})
check("dedup_semantic", pd.DataFrame(sd_rows))

cs_rows = []
for cl in sorted(b11_members):
    mem = b11_members[cl]
    inert = sum(int(rH((seqsum(VEC[i] * VEC[i]) + b11_m[i]) * 1000000.0, 0))
                for i in mem)
    cs_rows.append({"cluster": np.int32(cl), "n_vecs": np.int64(len(mem)),
                    "inertia_micros": np.int64(inert),
                    "mean_dist2": ratioR(inert, len(mem) * 1000000, 6)})
check("cluster_assign_stats", pd.DataFrame(cs_rows))

# select_dsir: per-token milli log-ratio target (src<10) vs candidate,
# integer-exact per-doc sums, top-20 by (score desc, doc_id)
ds_ct, ds_cc = {}, {}
ds_isref = [int(s_[3:]) < 10 for s_ in dc.source]
for sp, ir in zip(lr_sp, ds_isref):
    tgt = ds_ct if ir else ds_cc
    for t_ in sp:
        tgt[t_] = tgt.get(t_, 0) + 1
ds_vocab = set(ds_ct) | set(ds_cc)
ds_nt, ds_nc, ds_v = sum(ds_ct.values()), sum(ds_cc.values()), len(ds_vocab)
ds_w = {t_: int(rH(1000.0 * math.log(
    float((2 * ds_ct.get(t_, 0) + 1) * (2 * ds_nc + ds_v)) /
    float((2 * ds_cc.get(t_, 0) + 1) * (2 * ds_nt + ds_v))), 0))
    for t_ in ds_vocab}
ds_docs = []
for did, src, sp, ir in zip(dc.doc_id, dc.source, lr_sp, ds_isref):
    if ir:
        continue
    ds_docs.append((int(did), src, len(sp), sum(ds_w[t_] for t_ in sp)))
ds_top = sorted(ds_docs, key=lambda r: (-r[3], r[0]))[:20]
check("select_dsir", pd.DataFrame(
    [{"doc_id": np.int64(d_), "source": s_, "n_tok": np.int64(n_),
      "score_milli": np.int64(sc), "avg_milli": ratioR(sc, n_, 3)}
     for d_, s_, n_, sc in ds_top]))

# doc_ppl_bigram: corpus bigram LM, per-bigram-type milli NLL, exact sums
pb_c12 = {}
pb_doc_bgs = {}
for did, sp in zip(dc.doc_id, lr_sp):
    if len(sp) < 2:
        continue
    bgs = [sp[i] + " " + sp[i + 1] for i in range(len(sp) - 1)]
    pb_doc_bgs[int(did)] = bgs
    for bg in bgs:
        pb_c12[bg] = pb_c12.get(bg, 0) + 1
pb_c1 = {}
for bg, c_ in pb_c12.items():
    w1 = bg.split(" ", 1)[0]
    pb_c1[w1] = pb_c1.get(w1, 0) + c_
pb_v = len(pb_c1)
pb_w = {bg: int(rH(1000.0 * math.log(
    float(2 * pb_c1[bg.split(" ", 1)[0]] + pb_v) / float(2 * c_ + 1)), 0))
    for bg, c_ in pb_c12.items()}
pb_rows = []
for did in sorted(pb_doc_bgs):
    bgs = pb_doc_bgs[did]
    nll = sum(pb_w[bg] for bg in bgs)
    pb_rows.append({"doc_id": np.int64(did), "n_bigrams": np.int64(len(bgs)),
                    "nll_milli": np.int64(nll),
                    "avg_milli": ratioR(nll, len(bgs), 3)})
check("doc_ppl_bigram", pd.DataFrame(pb_rows))

# curriculum_order: per-source length rank, interleaved head of 50
cu = dc[["doc_id", "source", "n_chars"]].copy()
cu = cu.sort_values(["n_chars", "doc_id"])
cu["rn"] = cu.groupby("source").cumcount() + 1
cu = cu.sort_values(["rn", "source"]).head(50).reset_index(drop=True)
check("curriculum_order", pd.DataFrame(
    [{"position": np.int64(i + 1), "doc_id": np.int64(r.doc_id),
      "source": r.source, "n_chars": np.int64(r.n_chars),
      "rn": np.int64(r.rn)} for i, r in cu.iterrows()]))

# mine_hard_negatives: top-5 different-label cosine neighbors of anchors 0-7
hn_rows = []
for qid in [i for i in sorted(VEC) if i < 8 and NRM[i] > 0]:
    ql = int(VLBL[qid])
    cand = [(rN(seqdot(VEC[i], VEC[qid]) / (NRM[i] * NRM[qid]), 6), i)
            for i in VEC if i >= 8 and NRM[i] > 0 and int(VLBL[i]) != ql]
    top = sorted(cand, key=lambda x: (-x[0], x[1]))[:5]
    for rk, (c, i) in enumerate(top, 1):
        hn_rows.append({"q_id": np.int64(qid), "q_label": np.int32(ql),
                        "rank": np.int32(rk), "vec_id": np.int64(i),
                        "neg_label": np.int32(int(VLBL[i])), "cos": c})
check("mine_hard_negatives", pd.DataFrame(hn_rows))

# sample_weight_systematic: per-source weighted systematic picks
sw_rows = []
for src in sorted(set(dc.source)):
    sub = dc[dc.source == src].sort_values("doc_id")
    total = int(sub.n_chars.sum())
    step = max(1, total // 16)
    cum = 0
    for _, r in sub.iterrows():
        prev = cum
        cum += int(r.n_chars)
        if cum // step > prev // step:
            sw_rows.append({"doc_id": np.int64(r.doc_id), "source": src,
                            "n_chars": np.int64(r.n_chars),
                            "cum_w": np.int64(cum), "step": np.int64(step)})
check("sample_weight_systematic", pd.DataFrame(sw_rows))

# privacy_k_anon_report: (lang, source, 100-char band) QI groups, k = 5
ka_g = {}
for lg, src, nch in zip(dc.lang, dc.source, dc.n_chars):
    key = (lg, src, int(nch) // 100)
    ka_g[key] = ka_g.get(key, 0) + 1
ka_acc = {}
for (lg, _, _), n_ in ka_g.items():
    st = ka_acc.setdefault(lg, [0, 0, 0, 0])
    st[0] += 1
    st[2] += n_
    if n_ < 5:
        st[1] += 1
        st[3] += n_
check("privacy_k_anon_report", pd.DataFrame(
    [{"lang": lg, "n_groups": np.int64(v[0]), "n_small_groups": np.int64(v[1]),
      "n_docs": np.int64(v[2]), "n_docs_at_risk": np.int64(v[3]),
      "risk_share": ratioR(v[3], v[2], 6)} for lg, v in sorted(ka_acc.items())]))

# simsearch_pq: 8x8 product quantization, 4 codes/subspace, ADC top-10
pq_ids = [i for i in sorted(VEC) if NRM[i] > 0]
pq_sub = {(s, c): VEC[pq_ids[c]][s*8:(s+1)*8]
          for s in range(8) for c in range(4)}
pq_q = VEC[0]
pq_qd = {(s, c): int(rH(seqdot(pq_q[s*8:(s+1)*8], pq_sub[(s, c)]) * 1e6, 0))
         for s in range(8) for c in range(4)}
pq_c2 = {(s, c): seqsum(pq_sub[(s, c)] * pq_sub[(s, c)])
         for s in range(8) for c in range(4)}
pq_c2m = {k_: int(rH(v_ * 1e6, 0)) for k_, v_ in pq_c2.items()}
pq_rows = []
for i in pq_ids:
    if i == 0:
        continue
    am = rm = 0
    for s in range(8):
        vs = VEC[i][s*8:(s+1)*8]
        code = min((seqdot(vs, pq_sub[(s, c)]) * -2.0 + pq_c2[(s, c)], c)
                   for c in range(4))[1]
        am += pq_qd[(s, code)]
        rm += pq_c2m[(s, code)]
    if rm > 0:
        pq_rows.append((rN((am / 1e6) / (math.sqrt(rm / 1e6) * NRM[0]), 6), i))
pq_top = sorted(pq_rows, key=lambda x: (-x[0], x[1]))[:10]
check("simsearch_pq", pd.DataFrame(
    [{"vec_id": np.int64(i), "pq_cos": c} for c, i in pq_top]))

# source_token_entropy: per-source entropy + KL to corpus, integer milli
se_cst = {}
for src, sp in zip(dc.source, lr_sp):
    for t_ in sp:
        se_cst[(src, t_)] = se_cst.get((src, t_), 0) + 1
se_ns, se_ntypes, se_cc = {}, {}, {}
for (src, t_), c_ in se_cst.items():
    se_ns[src] = se_ns.get(src, 0) + c_
    se_ntypes[src] = se_ntypes.get(src, 0) + 1
    se_cc[t_] = se_cc.get(t_, 0) + c_
se_nc = sum(se_cc.values())
se_acc = {}
for (src, t_), c_ in se_cst.items():
    hm = int(rH(1000.0 * math.log(float(se_ns[src]) / float(c_)), 0))
    klm = int(rH(1000.0 * math.log(float(c_ * se_nc) /
                                   float(se_cc[t_] * se_ns[src])), 0))
    st = se_acc.setdefault(src, [0, 0])
    st[0] += c_ * hm
    st[1] += c_ * klm
check("source_token_entropy", pd.DataFrame(
    [{"source": src, "n_tokens": np.int64(se_ns[src]),
      "n_types": np.int64(se_ntypes[src]),
      "entropy_milli": ratioR(v[0], se_ns[src], 3),
      "kl_milli": ratioR(v[1], se_ns[src], 3)}
     for src, v in sorted(se_acc.items())]))

# source_overlap_matrix: pairwise distinct-3-shingle overlap
so_sets = {}
for src, sp in zip(dc.source, lr_sp):
    s_ = so_sets.setdefault(src, set())
    if len(sp) < 3:
        s_.add(" ".join(sp))
    else:
        for i in range(len(sp) - 2):
            s_.add(sp[i] + " " + sp[i + 1] + " " + sp[i + 2])
so_rows = []
so_srcs = sorted(so_sets)
for x in range(len(so_srcs)):
    for y in range(x + 1, len(so_srcs)):
        a_, b_ = so_srcs[x], so_srcs[y]
        inter = len(so_sets[a_] & so_sets[b_])
        na, nb = len(so_sets[a_]), len(so_sets[b_])
        so_rows.append({"src_a": a_, "src_b": b_, "n_inter": np.int64(inter),
                        "jaccard": ratioR(inter, na + nb - inter, 6),
                        "containment": ratioR(inter, min(na, nb), 6)})
check("source_overlap_matrix", pd.DataFrame(so_rows))

# bm25_topk: rational-k1/b BM25 over {join, vector, dup}, integer micros
bm_q = ("join", "vector", "dup")
bm_dl = {int(d_): len(sp) for d_, sp in zip(dc.doc_id, lr_sp)}
bm_nd, bm_tt = len(bm_dl), sum(bm_dl.values())
bm_tf = {}
for d_, sp in zip(dc.doc_id, lr_sp):
    for t_ in sp:
        if t_ in bm_q:
            bm_tf[(int(d_), t_)] = bm_tf.get((int(d_), t_), 0) + 1
bm_df = {}
for (_, t_) in bm_tf:
    bm_df[t_] = bm_df.get(t_, 0) + 1
bm_idf = {t_: int(rH(1000.0 * math.log(
    float(2 * bm_nd + 2) / float(2 * d_ + 1)), 0))
    for t_, d_ in bm_df.items()}
bm_doc = {}
for (d_, t_), tf_ in bm_tf.items():
    num = bm_idf[t_] * 44 * bm_tt * tf_ * 1000
    den = tf_ * 20 * bm_tt + bm_tt * 6 + bm_dl[d_] * bm_nd * 18
    sm = (2 * num + den) // (2 * den)
    nterm, tot = bm_doc.get(d_, (0, 0))
    bm_doc[d_] = (nterm + 1, tot + sm)
bm_top = sorted(((d_, v[0], v[1]) for d_, v in bm_doc.items()),
                key=lambda r: (-r[2], r[0]))[:20]
check("bm25_topk", pd.DataFrame(
    [{"doc_id": np.int64(d_), "n_terms": np.int64(n_),
      "score_micros": np.int64(s_), "bm25": ratioR(s_, 1000000, 6)}
     for d_, n_, s_ in bm_top]))

# heldout_ppl: bigram LM from the murmur3 80% split, scored on the 20%
hp_train = {int(d_): ((murmur_long(int(d_), 42) % 100) + 100) % 100 < 80
            for d_ in dc.doc_id}
hp_c12 = {}
for d_, sp in zip(dc.doc_id, lr_sp):
    if len(sp) < 2 or not hp_train[int(d_)]:
        continue
    for i in range(len(sp) - 1):
        bg = sp[i] + " " + sp[i + 1]
        hp_c12[bg] = hp_c12.get(bg, 0) + 1
hp_c1 = {}
for bg, c_ in hp_c12.items():
    w1 = bg.split(" ", 1)[0]
    hp_c1[w1] = hp_c1.get(w1, 0) + c_
hp_v = len(hp_c1)
hp_rows = []
for d_, sp in zip(dc.doc_id, lr_sp):
    if len(sp) < 2 or hp_train[int(d_)]:
        continue
    nll = 0
    for i in range(len(sp) - 1):
        bg = sp[i] + " " + sp[i + 1]
        c12_ = hp_c12.get(bg, 0)
        c1_ = hp_c1.get(bg.split(" ", 1)[0], 0)
        nll += int(rH(1000.0 * math.log(
            float(2 * c1_ + hp_v) / float(2 * c12_ + 1)), 0))
    nb = len(sp) - 1
    hp_rows.append({"doc_id": np.int64(d_), "n_bigrams": np.int64(nb),
                    "nll_milli": np.int64(nll),
                    "avg_milli": ratioR(nll, nb, 3)})
check("heldout_ppl", pd.DataFrame(hp_rows).sort_values("doc_id"))

# drift_timeline: per-day event-type PSI vs the overall mix
dt_day = ev.ts.values.astype("datetime64[us]").astype("int64") * 1000 // 86400000000000
dt_c = {}
for d_, t_ in zip(dt_day, ev.event_type):
    dt_c[(int(d_), t_)] = dt_c.get((int(d_), t_), 0) + 1
dt_nd, dt_ct = {}, {}
for (d_, t_), c_ in dt_c.items():
    dt_nd[d_] = dt_nd.get(d_, 0) + c_
    dt_ct[t_] = dt_ct.get(t_, 0) + c_
dt_n, dt_nt = sum(dt_ct.values()), len(dt_ct)
dt_rows = []
for d_ in sorted(dt_nd):
    psi = 0.0
    for t_ in sorted(dt_ct):
        if (d_, t_) not in dt_c:
            continue
        p = (dt_c[(d_, t_)] + 0.5) / (dt_nd[d_] + 0.5 * dt_nt)
        q = (dt_ct[t_] + 0.5) / (dt_n + 0.5 * dt_nt)
        psi += (p - q) * math.log(p / q)
    dt_rows.append({"day": np.int64(d_), "n_events": np.int64(dt_nd[d_]),
                    "psi": rH(psi, 6)})
check("drift_timeline", pd.DataFrame(dt_rows))

# scd2_intervals: lead-window validity chain per user (< 20), ns epochs
sc_ns = ev.ts.values.astype("datetime64[us]").astype("int64") * 1000
sc_rows = []
sc_by_user = {}
for eid, uid, et, ns in zip(ev.event_id, ev.user_id, ev.event_type, sc_ns):
    if int(uid) < 20:
        sc_by_user.setdefault(int(uid), []).append((int(ns), int(eid), et))
for uid in sorted(sc_by_user):
    evs = sorted(sc_by_user[uid])
    for i, (ns, eid, et) in enumerate(evs):
        nxt = evs[i + 1][0] if i + 1 < len(evs) else None
        sc_rows.append({"user_id": np.int64(uid), "event_id": np.int64(eid),
                        "event_type": et, "valid_from": np.int64(ns),
                        "valid_to": (np.int64(nxt) if nxt is not None else pd.NA),
                        "is_current": nxt is None})
sc_f = pd.DataFrame(sc_rows)
sc_f["valid_to"] = sc_f["valid_to"].astype("Int64")
check("scd2_intervals", sc_f)

# drift_ks: integer-exact two-sample KS on n_chars, src0-9 vs src10-19
ks_side = dc.source.str[3:].astype(int) < 10
ks_cnt = {}
for nch, is_ref in zip(dc.n_chars.astype(int), ks_side):
    cr, cc = ks_cnt.get(nch, (0, 0))
    ks_cnt[nch] = (cr + (1 if is_ref else 0), cc + (0 if is_ref else 1))
ks_nr = sum(c[0] for c in ks_cnt.values())
ks_nc = sum(c[1] for c in ks_cnt.values())
kr = kc = 0
ks_best = None  # (gap, n_chars) — max gap, smallest length tie-break
for nch in sorted(ks_cnt):
    kr += ks_cnt[nch][0]
    kc += ks_cnt[nch][1]
    gap = abs(kr * ks_nc - kc * ks_nr)  # python ints: exact at any size
    if ks_best is None or gap > ks_best[0]:
        ks_best = (gap, nch)
check("drift_ks", pd.DataFrame([{
    "n_ref": np.int64(ks_nr), "n_cand": np.int64(ks_nc),
    "ks_at": np.int32(ks_best[1]),
    "ks_d": ratioR(ks_best[0], ks_nr * ks_nc, 6)}]))

# quality_gopher_rules: per-source integer rule battery
gr_acc = {}
for src, nch, txt in zip(dc.source, dc.n_chars.astype(int), dc.text):
    sp = txt.split(" ")
    n = len(sp)
    ch = nch - (n - 1)
    st = sum(1 for tk in sp if tk in ("the", "a"))
    if n >= 2:
        bi = [sp[i] + " " + sp[i + 1] for i in range(n - 1)]
        tbi, dbi = len(bi), len(set(bi))
    else:
        tbi = dbi = 0
    r1 = 20 <= n <= 90
    r2 = 3 * n <= ch <= 5 * n
    r3 = st >= 2
    r4 = (tbi - dbi) * 20 <= tbi
    a = gr_acc.setdefault(src, [0, 0, 0, 0, 0, 0])
    a[0] += 1
    a[1] += r1; a[2] += r2; a[3] += r3; a[4] += r4
    a[5] += r1 and r2 and r3 and r4
check("quality_gopher_rules", pd.DataFrame(
    [{"source": src, "n_docs": np.int64(a[0]), "p_len": np.int64(a[1]),
      "p_wordlen": np.int64(a[2]), "p_stop": np.int64(a[3]),
      "p_rep": np.int64(a[4]), "n_pass": np.int64(a[5]),
      "pass_frac": ratioR(a[5], a[0], 6)}
     for src, a in sorted(gr_acc.items())]))

# simsearch_hamming: sign-bit codes, Hamming-nearest 50, exact re-rank top-10
hm_q = VEC[0]
hm_rows = []
for i, v in VEC.items():
    if i == 0 or NRM[i] == 0:
        continue
    ham = int(sum(1 for a, b in zip(v, hm_q) if (a >= 0) != (b >= 0)))
    hm_rows.append((ham, i))
hm_cand = sorted(hm_rows)[:50]
hm_rr = sorted(
    ((rN(seqdot(VEC[i], hm_q) / (NRM[i] * NRM[0]), 6), ham, i)
     for ham, i in hm_cand), key=lambda x: (-x[0], x[2]))[:10]
check("simsearch_hamming", pd.DataFrame(
    [{"rank": np.int32(r + 1), "vec_id": np.int64(i),
      "hamming": np.int32(ham), "cos": c}
     for r, (c, ham, i) in enumerate(hm_rr)]))

# simsearch_matryoshka: prefix-32 micro-rounded stage-1, top-100, re-rank
mt_qp = hm_q[:32]
mt_qpn = math.sqrt(seqsum(mt_qp * mt_qp))
mt_rows = []
for i, v in VEC.items():
    if i == 0 or NRM[i] == 0:
        continue
    pn = math.sqrt(seqsum(v[:32] * v[:32]))
    if pn == 0:
        continue
    s1 = int(rN(seqdot(v[:32], mt_qp) / (pn * mt_qpn) * 1e6, 0))
    mt_rows.append((-s1, i))
mt_cand = sorted(mt_rows)[:100]
mt_rr = sorted(
    ((rN(seqdot(VEC[i], hm_q) / (NRM[i] * NRM[0]), 6), -negs1, i)
     for negs1, i in mt_cand), key=lambda x: (-x[0], x[2]))[:10]
check("simsearch_matryoshka", pd.DataFrame(
    [{"rank": np.int32(r + 1), "vec_id": np.int64(i),
      "s1_micros": np.int64(s1), "cos": c}
     for r, (c, s1, i) in enumerate(mt_rr)]))

# text_normalize_nfc: unicodedata NFC (the same UAX #15 algorithm)
import unicodedata
nfc_acc = {}
for src, txt in zip(dc.source, dc.text):
    nf = unicodedata.normalize("NFC", txt)
    a = nfc_acc.setdefault(src, [0, 0, 0, 0])
    a[0] += 1
    a[1] += (nf != txt)
    a[2] += len(txt)
    a[3] += len(nf)
check("text_normalize_nfc", pd.DataFrame(
    [{"source": src, "n_docs": np.int64(a[0]), "n_changed": np.int64(a[1]),
      "chars_before": np.int64(a[2]), "chars_after": np.int64(a[3])}
     for src, a in sorted(nfc_acc.items())]))

# text_script_mix: explicit codepoint-range classes (identical on all engines)
sm_acc = {}
for src, txt in zip(dc.source, dc.text):
    al = cj = cm = 0
    for ch in txt:
        o = ord(ch)
        if (65 <= o <= 90) or (97 <= o <= 122):
            al += 1
        elif 0x4E00 <= o <= 0x9FFF:
            cj += 1
        elif 0x0300 <= o <= 0x036F:
            cm += 1
    a = sm_acc.setdefault(src, [0, 0, 0, 0])
    a[0] += len(txt); a[1] += al; a[2] += cj; a[3] += cm
check("text_script_mix", pd.DataFrame(
    [{"source": src, "n_chars": np.int64(a[0]), "ascii_letters": np.int64(a[1]),
      "cjk_chars": np.int64(a[2]), "combining_marks": np.int64(a[3]),
      "other_chars": np.int64(a[0] - a[1] - a[2] - a[3])}
     for src, a in sorted(sm_acc.items())]))

# epoch_repeat_plan: mixture_epochs' integer chain + murmur ppm pick
er_tok = {}
for src, txt in zip(dc.source, dc.text):
    er_tok[src] = er_tok.get(src, 0) + len(txt.split(" "))
er_max = max(er_tok.values())
er_w = {s_: int(rN(math.sqrt(er_tok[s_] / er_max) * 1e6, 0)) for s_ in er_tok}
er_sumw = sum(er_w.values())
er_total = sum(er_tok.values())
er_plan = {}
for s_ in er_tok:
    # ratioRounded(2·total·w, sum_w, 0) kept in pure ints (no float hop —
    # past 2^53 the ratioR float return would lose the low bits)
    x = 2 * er_total * er_w[s_]
    alloc = (2 * x + er_sumw) // (2 * er_sumw)
    er_plan[s_] = (alloc // er_tok[s_], ((alloc % er_tok[s_]) * 1000000) // er_tok[s_])
er_acc = {}
for src, did in zip(dc.source, dc.doc_id.astype(int)):
    h = ((murmur_long(did, 42) % 1000000) + 1000000) % 1000000
    a = er_acc.setdefault(src, [0, 0])
    a[0] += 1
    a[1] += (h < er_plan[src][1])
check("epoch_repeat_plan", pd.DataFrame(
    [{"source": src, "n_docs": np.int64(a[0]),
      "base_epochs": np.int64(er_plan[src][0]),
      "frac_ppm": np.int64(er_plan[src][1]),
      "n_extra": np.int64(a[1]),
      "planned_instances": np.int64(a[0] * er_plan[src][0] + a[1])}
     for src, a in sorted(er_acc.items())]))

# dedup_exact_normalized: NFC + casefold(simple) + whitespace collapse
import re as _re
dn_keep = {}
dn_rows_src = []
for did, src, txt in zip(dc.doc_id.astype(int), dc.source, dc.text):
    # explicit class — python \s is Unicode-aware (NBSP etc.), the engines'
    # classes are ASCII; the key contract pins [ \t\n\x0B\f\r]
    # (.strip(" ") not .strip(): python strip() is Unicode-aware too, while
    # Spark/DuckDB trim() strip spaces only)
    k = _re.sub(r"[ \t\n\x0b\f\r]+", " ",
                unicodedata.normalize("NFC", txt).lower()).strip(" ")
    dn_rows_src.append((did, src, k))
    if k not in dn_keep or did < dn_keep[k]:
        dn_keep[k] = did
dn_acc = {}
for did, src, k in dn_rows_src:
    a = dn_acc.setdefault(src, [0, 0, 0])
    a[0] += 1
    if did == dn_keep[k]:
        a[1] += 1
    else:
        a[2] += 1
check("dedup_exact_normalized", pd.DataFrame(
    [{"source": src, "n_docs": np.int64(a[0]), "n_kept": np.int64(a[1]),
      "n_dropped": np.int64(a[2])} for src, a in sorted(dn_acc.items())]))

# embedding_qa_report: dim/finite/zero-norm screens + integer-micro norms
qa_micros = []
qa_bad_dim = qa_nonfinite = qa_zero = 0
for i, v in VEC.items():
    if len(v) != 64:
        qa_bad_dim += 1
        continue
    if not np.isfinite(v).all():
        qa_nonfinite += 1
        continue
    m = int(rN(math.sqrt(seqsum(v * v)) * 1e6, 0))
    qa_micros.append(m)
    qa_zero += (m == 0)
qa_micros.sort()
def qa_pct(p):
    # linear interpolation between integer micros; ROUND half-up at unit
    f = p * (len(qa_micros) - 1)
    lo = int(math.floor(f))
    hi = min(lo + 1, len(qa_micros) - 1)
    return int(rN(qa_micros[lo] + (qa_micros[hi] - qa_micros[lo]) * (f - lo), 0))
check("embedding_qa_report", pd.DataFrame([{
    "n_vecs": np.int64(len(VEC)), "n_bad_dim": np.int64(qa_bad_dim),
    "n_nonfinite": np.int64(qa_nonfinite), "n_zero_norm": np.int64(qa_zero),
    "norm_p50_micros": np.int64(qa_pct(0.5)),
    "norm_p95_micros": np.int64(qa_pct(0.95))}]))

# agg_hll_mergeable: exact distincts; sketch assertions must read True
check("agg_hll_mergeable", pd.DataFrame([{
    "exact_users": np.int64(ev.user_id.nunique()),
    "n_shards": np.int64(ev.event_type.nunique()),
    "merged_within_5pct": True, "merged_equals_direct": True}]))

# --- r14 batch: BPE merge training / PII redaction / filtered ANN ------

# bpe_train_merges: the full 10-round training loop re-implemented over
# symbol TUPLES (not the engines' separator-string representation — an
# independent formulation of the same greedy left-to-right non-overlapping
# merge; equivalence argued in ext/Bpe.scala). ASCII-only symbols make
# python's code-point tie-break identical to both engines' byte order.
from collections import Counter as _Counter
bpe_vocab = _Counter()
for _, r_ in dc.iterrows():
    for p_ in BPE_PAT.findall(r_.text):
        if re.fullmatch(r"[ -~]+", p_):
            bpe_vocab[p_] += 1
bpe_seq = {p_: tuple(p_) for p_ in bpe_vocab}
bpe_rows = []
for rank in range(1, 11):
    pc = _Counter()
    for p_, cnt in bpe_vocab.items():
        t_ = bpe_seq[p_]
        for j in range(len(t_) - 1):
            pc[(t_[j], t_[j + 1])] += cnt
    (bl, br), bcnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    for p_ in bpe_seq:
        t_ = bpe_seq[p_]
        out = []
        j = 0
        while j < len(t_):
            if j + 1 < len(t_) and t_[j] == bl and t_[j + 1] == br:
                out.append(bl + br)
                j += 2
            else:
                out.append(t_[j])
                j += 1
        bpe_seq[p_] = tuple(out)
    total = sum(c2 * len(bpe_seq[p_]) for p_, c2 in bpe_vocab.items())
    bpe_rows.append({"merge_rank": np.int32(rank), "left_sym": bl,
                     "right_sym": br, "pair_count": np.int64(bcnt),
                     "corpus_symbols": np.int64(total)})
check("bpe_train_merges", pd.DataFrame(bpe_rows))

# pii_redact_clean: sequential email -> IPv4 -> phone passes, each counting
# on its own input (the declared ordering semantics: an IP inside a
# redacted email domain counts zero)
PII_EM = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PII_IP = re.compile(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}")
PII_PH = re.compile(r"[0-9]{3}-[0-9]{3}-[0-9]{4}")
pii_rows = []
for _, r_ in dc.sort_values("doc_id").iterrows():
    ne = len(PII_EM.findall(r_.text)); t1 = PII_EM.sub("<EMAIL>", r_.text)
    ni = len(PII_IP.findall(t1)); t2 = PII_IP.sub("<IP>", t1)
    nh = len(PII_PH.findall(t2)); t3 = PII_PH.sub("<PHONE>", t2)
    pii_rows.append({"doc_id": np.int64(r_.doc_id), "source": r_.source,
                     "n_email": np.int64(ne), "n_ipv4": np.int64(ni),
                     "n_phone": np.int64(nh), "redacted_text": t3})
check("pii_redact_clean", pd.DataFrame(pii_rows))

# simsearch_filtered: label-3 top-10 cosine vs vec 0 (probe unfiltered;
# zero-norm candidates excluded — the engine's withNorm contract)
sf_rows = sorted(((rN(seqdot(VEC[i], Q0) / (NRM[i] * NRM[0]), 6), i)
                  for i in VEC if i != 0 and VLBL[i] == 3 and NRM[i] > 0),
                 key=lambda x: (-x[0], x[1]))[:10]
check("simsearch_filtered", pd.DataFrame(
    [{"vec_id": np.int64(i), "cos": c} for c, i in sf_rows]))

# bpe_encode_fertility: per-source encode under the final trained vocab
# (bpe_seq holds the post-10-round symbol tuples)
bef_pre = {}
bef_ws = {}
for _, r_ in dc.iterrows():
    nd, wt = bef_ws.get(r_.source, (0, 0))
    bef_ws[r_.source] = (nd + 1, wt + len(r_.text.split(" ")))
    for p_ in BPE_PAT.findall(r_.text):
        if re.fullmatch(r"[ -~]+", p_):
            k2 = (r_.source, p_)
            bef_pre[k2] = bef_pre.get(k2, 0) + 1
bef_agg = {}
for (s2, p_), c2 in bef_pre.items():
    a2, e2 = bef_agg.get(s2, (0, 0))
    bef_agg[s2] = (a2 + c2, e2 + c2 * len(bpe_seq[p_]))
check("bpe_encode_fertility", pd.DataFrame(
    [{"source": s2, "n_docs": np.int64(bef_ws[s2][0]),
      "ws_tokens": np.int64(bef_ws[s2][1]),
      "ascii_pretokens": np.int64(bef_agg.get(s2, (0, 0))[0]),
      "encoded_tokens": np.int64(bef_agg.get(s2, (0, 0))[1]),
      "encoded_per_ws": ratioR(bef_agg.get(s2, (0, 0))[1], bef_ws[s2][1], 6)}
     for s2 in sorted(bef_ws)]))

# dedup_semantic_clean: the keeper manifest off the SAME b11 assignment +
# pair loop dedup_semantic already ran (sd_dup_all)
check("dedup_semantic_clean", pd.DataFrame(
    [{"vec_id": np.int64(i), "cluster": np.int32(b11_asg[i]),
      "kept": np.int32(0 if i in sd_dup_all else 1)}
     for i in b11_ids]))

# bpe_tokenize_shards (X65): per-doc token ids under the final trained
# vocab (bpe_seq holds the post-10-round symbol tuples); ids are 1-based
# lexicographic ranks (ASCII symbols: python code-point sort == the
# engines' UTF8 binary order); hash is the exact-integer ordered fold;
# shard is murmur3(doc_id, seed 42) pmod 16 like shard_manifest
bts_symids = {s2: i + 1 for i, s2 in enumerate(
    sorted({s2 for t_ in bpe_seq.values() for s2 in t_}))}
bts_rows = []
for _, r_ in dc.sort_values("doc_id").iterrows():
    h, ntok = 7, 0
    for p_ in BPE_PAT.findall(r_.text):
        if re.fullmatch(r"[ -~]+", p_):
            for s2 in bpe_seq[p_]:
                h = (h * 131 + bts_symids[s2]) % 1000000007
                ntok += 1
    bts_rows.append({"doc_id": np.int64(r_.doc_id),
                     "shard": np.int32(((murmur_long(int(r_.doc_id), 42) % 16) + 16) % 16),
                     "n_tokens": np.int64(ntok), "token_hash": np.int64(h)})
check("bpe_tokenize_shards", pd.DataFrame(bts_rows))

# dedup_semantic_incremental (X66): base batch (vec_id%10<7) clustered and
# deduped on its own scaled k; new batch (%10>=7) assigned to the BASE
# centroids and dropped iff cos >= 0.9 with a KEPT base vector in-cluster
inc_b1 = [i for i in sorted(VEC) if i % 10 < 7 and NRM[i] > 0]
inc_b2 = [i for i in sorted(VEC) if i % 10 >= 7 and NRM[i] > 0]
inc_k = max(8, sum(1 for i in VEC if i % 10 < 7) // 256)
inc_cents = [(ci, VEC[vid], seqsum(VEC[vid] * VEC[vid]))
             for ci, vid in enumerate(inc_b1[:inc_k])]
def inc_assign(ids):
    return {i: min(((seqdot(VEC[i], cv) * -2.0 + c2, ci)
                    for ci, cv, c2 in inc_cents))[1] for i in ids}
inc_a1, inc_a2 = inc_assign(inc_b1), inc_assign(inc_b2)
inc_mem1 = {}
for i in inc_b1:
    inc_mem1.setdefault(inc_a1[i], []).append(i)
inc_drop1 = set()
for cl, mem in inc_mem1.items():
    for x in range(len(mem)):
        for y in range(x + 1, len(mem)):
            if rN(seqdot(VEC[mem[x]], VEC[mem[y]]) /
                  (NRM[mem[x]] * NRM[mem[y]]), 6) >= 0.9:
                inc_drop1.add(mem[y])
inc_kept1 = {}
for i in inc_b1:
    if i not in inc_drop1:
        inc_kept1.setdefault(inc_a1[i], []).append(i)
check("dedup_semantic_incremental", pd.DataFrame(
    [{"vec_id": np.int64(i), "cluster": np.int32(inc_a2[i]),
      "kept": np.int32(0 if any(
          rN(seqdot(VEC[i], VEC[j]) / (NRM[i] * NRM[j]), 6) >= 0.9
          for j in inc_kept1.get(inc_a2[i], [])) else 1)}
     for i in inc_b2]))

# admission_gate (X67): Gopher rule battery + X62 sequential redaction
# counts, ADMITTED = all rules pass AND zero PII
ag_acc = {}
for _, r_ in dc.iterrows():
    txt = r_.text
    ne = len(PII_EM.findall(txt)); ag_t1 = PII_EM.sub("<EMAIL>", txt)
    ni = len(PII_IP.findall(ag_t1)); ag_t2 = PII_IP.sub("<IP>", ag_t1)
    nh = len(PII_PH.findall(ag_t2))
    nred = ne + ni + nh
    sp = txt.split(" "); n = len(sp); ch = int(r_.n_chars) - (n - 1)
    st = sum(1 for tk in sp if tk in ("the", "a"))
    if n >= 2:
        bi = [sp[i] + " " + sp[i + 1] for i in range(n - 1)]
        tbi, dbi = len(bi), len(set(bi))
    else:
        tbi = dbi = 0
    qp = (20 <= n <= 90) and (3 * n <= ch <= 5 * n) and st >= 2 \
        and (tbi - dbi) * 20 <= tbi
    a = ag_acc.setdefault(r_.source, [0, 0, 0, 0, 0])
    a[0] += 1; a[1] += nred; a[2] += 0 if qp else 1
    a[3] += 1 if nred > 0 else 0; a[4] += 1 if (qp and nred == 0) else 0
check("admission_gate", pd.DataFrame(
    [{"source": s2, "n_docs": np.int64(a[0]), "n_redactions": np.int64(a[1]),
      "n_quality_fail": np.int64(a[2]), "n_pii_hit": np.int64(a[3]),
      "n_admitted": np.int64(a[4]), "admit_frac": ratioR(a[4], a[0], 6)}
     for s2, a in sorted(ag_acc.items())]))

# bloom_partition_index (X71): per-month k=3/m=16384 Bloom over o_custkey,
# exact integer bit positions + the ratioRounded fill contract
BP_P, BP_M = 1000000007, 16384
def bp_bits(key):
    return {((((i * 2654435761) % BP_P) * int(key)
              + (i * 40503 + 17) % BP_P) % BP_P) % BP_M for i in (1, 2, 3)}
bp_probe = bp_bits(777)
bp_acc = {}
for mo, ck in zip(pd.to_datetime(od.o_orderdate).dt.strftime("%Y-%m"),
                  od.o_custkey):
    a = bp_acc.setdefault(mo, [0, set()])
    a[0] += 1
    a[1].add(int(ck))
bp_rows = []
for mo in sorted(bp_acc):
    nrows, ks = bp_acc[mo]
    bits = set()
    for ck in ks:
        bits |= bp_bits(ck)
    nset = len(bits)
    bp_rows.append({
        "month": mo, "n_rows": np.int64(nrows), "n_keys": np.int64(len(ks)),
        "n_set_bits": np.int64(nset),
        "fill": ((2000000 * nset + BP_M) // (2 * BP_M)) / 1e6,
        "probe_maybe": np.int32(1 if bp_probe <= bits else 0),
        "probe_actual": np.int32(1 if 777 in ks else 0)})
check("bloom_partition_index", pd.DataFrame(bp_rows))

# knn_classify (X70): 64 probes (vec_id < 64) classified by the majority
# label of their 5 nearest (rounded cosine desc, vec_id asc) among the
# disjoint rest; vote ties -> smallest label; confusion rollup
kc_conf = {}
for kc_qi in sorted(VEC):
    if kc_qi >= 64:
        continue
    kc_nb = sorted(
        ((-rN(seqdot(VEC[kc_qi], VEC[j]) / (NRM[kc_qi] * NRM[j]), 6), j)
         for j in VEC if j >= 64))[:5]
    kc_cnt = {}
    for _, j in kc_nb:
        kc_cnt[int(VLBL[j])] = kc_cnt.get(int(VLBL[j]), 0) + 1
    kc_pred = min(kc_cnt, key=lambda l: (-kc_cnt[l], l))
    kc_key = (int(VLBL[kc_qi]), kc_pred)
    kc_conf[kc_key] = kc_conf.get(kc_key, 0) + 1
check("knn_classify", pd.DataFrame(
    [{"true_label": np.int32(a), "pred_label": np.int32(b), "n": np.int64(c)}
     for (a, b), c in sorted(kc_conf.items())]))

# dedup_image_phash (X68): dHash over the deterministic PNG raster formula
# (independent of BOTH the engine's javax.imageio decode and the DuckDB
# list replay): 9x8 nearest-neighbor resample of band 0, bit(y*8+x) =
# [p(x+1,y) > p(x,y)], four 16-bit bands, candidates share >=1 exact band,
# verified Hamming <= 10, keep-first manifest
def _ph_bands(d):
    w, h = 8 + d % 24, 8 + (3 * d) % 24
    kk = np.arange(72)
    pix = (31 * d + 7 * (((kk % 9) * w) // 9) + 13 * (((kk // 9) * h) // 8)) % 256
    yy, xx = np.arange(64) // 8, np.arange(64) % 8
    bits = (pix[yy * 9 + xx + 1] > pix[yy * 9 + xx]).astype(np.int64)
    return tuple(int((bits[16 * j:16 * j + 16] << np.arange(16)).sum())
                 for j in range(4))

ph_ids = sorted(int(i) for i in t("documents")["doc_id"])
ph_hash = {d: _ph_bands(d) for d in ph_ids}
ph_min = {}
for d in ph_ids:
    ph_min.setdefault(ph_hash[d], d)
ph_distinct = list(ph_min)
# vectorized pair sweep over distinct hashes (m² pairs; a pure-python loop
# is minutes at sf1): popcount via a 16-bit lookup table
ph_H = np.array(ph_distinct, dtype=np.int64).reshape(len(ph_distinct), 4)
ph_M = np.array([ph_min[h] for h in ph_distinct], dtype=np.int64)
ph_pop = np.array([bin(v).count("1") for v in range(1 << 16)], dtype=np.int16)
ph_nmin = {}
for i, ha in enumerate(ph_distinct):
    share = (ph_H == ph_H[i]).any(axis=1)
    ham = ph_pop[np.bitwise_xor(ph_H, ph_H[i])].sum(axis=1)
    cand = share & (ham <= 10)
    cand[i] = False
    if cand.any():
        ph_nmin[ha] = int(ph_M[cand].min())
check("dedup_image_phash", pd.DataFrame(
    [{"doc_id": np.int64(d),
      "hash_hex": "%04X%04X%04X%04X" % ph_hash[d],
      "kept": np.int32(1 if ph_min[ph_hash[d]] == d and
                       ph_nmin.get(ph_hash[d], d + 1) > d else 0)}
     for d in ph_ids]))

# decontaminate_eval (X72): per train doc (doc_id%10 != 3), distinct
# 3-shingle overlap with the union of the eval split's (doc_id%10 == 3)
# shingles; rounded ratio + flag at rounded >= 0.5
dx_eval = set()
for did, sh in doc_shset.items():
    if did % 10 == 3:
        dx_eval |= sh
dx_rows = []
for did in sorted(doc_shset):
    if did % 10 == 3:
        continue
    sh = doc_shset[did]
    nh = len(sh & dx_eval)
    cont = ratioR(nh, len(sh), 6)
    dx_rows.append({"doc_id": np.int64(did),
                    "n_shingles": np.int64(len(sh)), "n_hits": np.int64(nh),
                    "contamination": cont,
                    "flagged": np.int32(1 if cont >= 0.5 else 0)})
check("decontaminate_eval", pd.DataFrame(dx_rows))

# zonemap_partition_index (X73): per-month min/max envelope over
# o_totalprice + interior range probe [249000, 249250]
zm_rows = []
zm_mo = pd.to_datetime(od.o_orderdate).dt.strftime("%Y-%m")
for mo, g in od.groupby(zm_mo):
    mn, mx = float(g.o_totalprice.min()), float(g.o_totalprice.max())
    zm_rows.append({
        "month": mo, "n_rows": np.int64(len(g)),
        "min_val": mn, "max_val": mx,
        "probe_maybe": np.int32(0 if (mx < 249000.0 or mn > 249250.0) else 1),
        "probe_actual": np.int32(
            1 if ((g.o_totalprice >= 249000.0)
                  & (g.o_totalprice <= 249250.0)).any() else 0)})
check("zonemap_partition_index", pd.DataFrame(zm_rows).sort_values("month")
      .reset_index(drop=True))

# range_partition_bounds (X74): bucket = floor(startOffset*16/N) over the
# o_custkey-ordered cumulative row count
rp = od.groupby("o_custkey").size().sort_index()
rp_n = int(rp.sum())
rp_off = rp.cumsum() - rp
rp_b = (rp_off * 16 // rp_n).astype("int64")
rp_rows = [{"bucket": np.int64(b), "lo_key": np.int64(g.index.min()),
            "hi_key": np.int64(g.index.max()), "n_keys": np.int64(len(g)),
            "n_rows": np.int64(g.sum())}
           for b, g in rp.groupby(rp_b)]
check("range_partition_bounds", pd.DataFrame(rp_rows))

# salt_plan_topk (X75): 10 heaviest user_ids (count desc, key asc) with
# share and salt_factor = ceil(n*32/total)
sp = ev.groupby("user_id").size().reset_index(name="n_rows") \
    .sort_values(["n_rows", "user_id"], ascending=[False, True]).head(10)
sp_t = int(len(ev))
check("salt_plan_topk", pd.DataFrame(
    [{"user_id": np.int64(r.user_id), "n_rows": np.int64(r.n_rows),
      "share": ratioR(r.n_rows, sp_t, 6),
      "salt_factor": np.int64(max(1, (int(r.n_rows) * 32 + sp_t - 1) // sp_t))}
     for r in sp.itertuples()]))

# bloom_index_fpr (X77): 100 present + 100 absent probe keys against every
# month's k=3/m=16384 Bloom; observed FPR per class (bp_bits from X71)
bf_mk = set()
for mo, ck in zip(pd.to_datetime(od.o_orderdate).dt.strftime("%Y-%m"),
                  od.o_custkey):
    bf_mk.add((mo, int(ck)))
bf_months = sorted({m for m, _ in bf_mk})
bf_keys = sorted({k for _, k in bf_mk})
bf_probes = [(k, "present") for k in bf_keys[:100]] + \
    [(bf_keys[-1] + i, "absent") for i in range(1, 101)]
bf_mbits = {}
for mo, k in bf_mk:
    bf_mbits.setdefault(mo, set()).update(bp_bits(k))
bf_acc = {}
for k, cls in bf_probes:
    kb = bp_bits(k)
    for mo in bf_months:
        adm = 1 if kb <= bf_mbits[mo] else 0
        act = 1 if (mo, k) in bf_mk else 0
        a = bf_acc.setdefault(cls, [0, 0, 0, 0])
        a[0] += 1
        a[1] += adm
        a[2] += act
        a[3] += 1 if adm and not act else 0
check("bloom_index_fpr", pd.DataFrame(
    [{"probe_class": cls, "n_pairs": np.int64(a[0]),
      "n_admitted": np.int64(a[1]), "n_actual": np.int64(a[2]),
      "n_false_pos": np.int64(a[3]), "fpr": ratioR(a[3], a[0] - a[2], 6)}
     for cls, a in sorted(bf_acc.items())]))

# workload_pruning_sim (X80): every logged query screened against the
# month layout + zone maps; regex recognizers identical to the engine's
import re as _re
wp_parts = od.groupby(pd.to_datetime(od.o_orderdate).dt.strftime("%Y-%m")) \
    .o_totalprice.max()
wp_runs = pd.Series([CANNED[i % 5] for i in ev.event_id]) \
    .value_counts().to_dict()
wp_rows = []
for q in sorted(set(CANNED)):
    dm = _re.search(r"o_orderdate >= DATE '([0-9-]+)'", q)
    pm = _re.search(r"o_totalprice > ([0-9.]+)", q)
    supported = 1 if ("FROM orders" in q and (dm or pm)) else 0
    pruned = 0
    if supported:
        for mo, mx in wp_parts.items():
            if (dm and mo < dm.group(1)[:7]) or \
               (pm and mx <= float(pm.group(1))):
                pruned += 1
    wp_rows.append({
        "query": q, "n_runs": np.int64(wp_runs.get(q, 0)),
        "supported": np.int32(supported),
        "n_partitions": np.int64(len(wp_parts)),
        "n_pruned": np.int64(pruned),
        "prune_frac": ratioR(pruned, len(wp_parts), 6)})
check("workload_pruning_sim", pd.DataFrame(wp_rows))

# partition_balance_report (X79): X74 bounds FROZEN on the pre-1998 base
# epoch, step-assigned over the full corpus; load_ratio + rebalance flag
pb_base = od[pd.to_datetime(od.o_orderdate) < np.datetime64("1998-01-01")]
pb_bk = pb_base.groupby("o_custkey").size().sort_index()
pb_n = int(pb_bk.sum())
pb_bucket = ((pb_bk.cumsum() - pb_bk) * 16 // pb_n).astype("int64")
pb_lo = pb_bucket.reset_index().groupby(0).o_custkey.min().sort_index()
pb_ck = od.groupby("o_custkey").size().sort_index()
pb_t = int(pb_ck.sum())
pb_asg = np.maximum(
    np.searchsorted(pb_lo.values, pb_ck.index.values, side="right") - 1, 0)
pb_rows = []
for b, g in pb_ck.groupby(pb_lo.index.values[pb_asg]):
    lr = ratioR(int(g.sum()) * 16, pb_t, 6)
    pb_rows.append({
        "bucket": np.int64(b), "n_keys": np.int64(len(g)),
        "n_rows": np.int64(g.sum()), "share": ratioR(int(g.sum()), pb_t, 6),
        "load_ratio": lr, "rebalance": np.int32(1 if lr >= 1.5 else 0)})
check("partition_balance_report", pd.DataFrame(pb_rows))

# zorder_layout (X76): 16-bit Morton interleave of (custkey scaled to 8
# bits, month ordinal scaled to 8 bits), 16 value-range blocks vs the
# date-sorted layout, per-block dual envelopes
zo_maxk = int(od.o_custkey.max())
zo_dt = pd.to_datetime(od.o_orderdate)
zo = pd.DataFrame({
    "cx": ((od.o_custkey.astype("int64") * 256) // (zo_maxk + 1)).values,
    "dx": ((((zo_dt.dt.year - 1995) * 12 + zo_dt.dt.month - 1) * 256) // 84)
        .values.astype("int64")})
zo_cx, zo_dx = zo.cx.values, zo.dx.values
zo_z = sum((((zo_cx >> i) & 1) << (2 * i + 1)) + (((zo_dx >> i) & 1) << (2 * i))
           for i in range(8))
zo_rows = []
for layout, blk in (("linear", (zo.dx * 16) // 256), ("zorder", zo_z // 4096)):
    for b, g in zo.groupby(blk):
        lo_c, hi_c = int(g.cx.min()), int(g.cx.max())
        lo_d, hi_d = int(g.dx.min()), int(g.dx.max())
        zo_rows.append({
            "layout": layout, "block": np.int64(b),
            "n_rows": np.int64(len(g)),
            "cx_lo": np.int64(lo_c), "cx_hi": np.int64(hi_c),
            "dx_lo": np.int64(lo_d), "dx_hi": np.int64(hi_d),
            "envelope_area": np.int64((hi_c - lo_c + 1) * (hi_d - lo_d + 1))})
check("zorder_layout", pd.DataFrame(zo_rows)
      .sort_values(["layout", "block"]).reset_index(drop=True))

fails = [r for r in results if not r[1]]
for key, ok, msg in results:
    print(f"{'ok  ' if ok else 'FAIL'} {key}" + (f"  {msg}" if msg else ""))
print(f"\n{len(results) - len(fails)} ok, {len(fails)} failed")
sys.exit(1 if fails else 0)
