"""Seeded JSONL crawl for the document-curation chain.

`generate(out_dir, seed, n_docs, n_files)` writes `n_files` JSONL shards
under `<out_dir>/crawl` plus the mixture spec `<out_dir>/budgets.csv`, and
returns what the chain must produce, derived here by replaying each step
on the planted data in plain Python:

- near-duplicate clusters: one-line bodies with one word changed per
  member; every within-cluster pair is checked here to keep a 5-char
  shingle Jaccard well above the dedup threshold;
- boilerplate lines shared across documents (line dedup keeps the first
  occurrence by (doc_id, line position)); some pages are boilerplate only;
- repetitive pages that the repetition gate rejects;
- e-mail addresses, which must all be redacted;
- corrupt (truncated) JSON lines and blank lines.
"""
import json
import os
import random
import re
from collections import Counter, defaultdict

DOMAINS = ["news", "forum", "blog", "docs", "shop", "wiki"]
LANGS = ["en", "fr", "de", "es"]
SYL = ["ka", "lo", "mi", "ne", "ro", "ta", "vi", "zu", "be", "do", "fa",
       "gi", "ha", "ju", "le", "mo", "nu", "pa", "ri", "so", "te", "va",
       "ar", "el", "in", "os", "ur", "ex"]
BOILERPLATE = [
    "Copyright 2024 All rights reserved.",
    "Subscribe to our newsletter for weekly updates",
    "Home | About | Contact | Privacy policy",
    "This site uses cookies to improve your experience.",
    "Share this page on social media",
    "Log in or register to post comments",
]
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
SHINGLE, THRESHOLD = 5, 0.8
GATE_DISTINCT, GATE_TOP = 0.3, 0.2
BUDGET_SHARE = 0.6


def shingles(text):
    if len(text) <= SHINGLE:
        return {text}
    return {text[i:i + SHINGLE] for i in range(len(text) - SHINGLE + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def generate(out_dir, seed, n_docs, n_files):
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice(SYL) for _ in range(rng.randint(2, 4)))
                    for _ in range(6000)})

    def sentence(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    docs = {}  # doc_id -> text lines
    kind = {}
    clusters = []
    i = 0
    while i < n_docs:
        r = rng.random()
        if r < 0.08 and i + 5 < n_docs:  # near-duplicate cluster
            size = rng.randint(2, 5)
            words = sentence(rng.randint(70, 110)).split()
            members = []
            for k in range(size):
                w = list(words)
                w[rng.randrange(len(w))] = f"{rng.choice(vocab)}{k}"
                did = ids[i]
                i += 1
                docs[did] = [" ".join(w)]
                kind[did] = "dup"
                members.append(did)
            clusters.append(sorted(members))
            continue
        did = ids[i]
        i += 1
        if r < 0.12:  # repetitive page: fails the repetition gate
            spam = sentence(rng.randint(2, 4))
            docs[did] = [" ".join([spam] * rng.randint(15, 40))]
            kind[did] = "spam"
        elif r < 0.15:  # boilerplate-only page
            docs[did] = rng.sample(BOILERPLATE, rng.randint(1, 3))
            kind[did] = "boiler"
        else:
            lines = [sentence(rng.randint(8, 60)) for _ in range(rng.randint(1, 4))]
            if rng.random() < 0.15:
                j = rng.randrange(len(lines))
                user = "".join(rng.choice(SYL) for _ in range(3))
                lines[j] += f" contact {user}.{rng.randint(1, 99)}@mail{rng.randint(1, 9)}.example.com today"
            if rng.random() < 0.3:
                lines.append(rng.choice(BOILERPLATE))
            if rng.random() < 0.1:
                lines.insert(0, rng.choice(BOILERPLATE))
            docs[did] = lines
            kind[did] = "plain"
    meta = {did: {"domain": rng.choice(DOMAINS), "lang": rng.choice(LANGS)}
            for did in docs}

    # shards: documents in a shuffled order, corrupt and blank lines mixed in
    order = list(docs)
    rng.shuffle(order)
    crawl = os.path.join(out_dir, "crawl")
    os.makedirs(crawl, exist_ok=True)
    shards = [[] for _ in range(n_files)]
    corrupt = 0
    for n, did in enumerate(order):
        rec = {"doc_id": did, "url": f"https://{meta[did]['domain']}.example.org/p/{did}",
               "domain": meta[did]["domain"], "lang": meta[did]["lang"],
               "text": "\n".join(docs[did])}
        line = json.dumps(rec, ensure_ascii=False)
        shard = shards[n % n_files]
        if rng.random() < 0.01:
            shard.append(line[:rng.randint(5, len(line) - 2)])
            corrupt += 1
        if rng.random() < 0.005:
            shard.append("   ")
        shard.append(line)
    for k, lines in enumerate(shards):
        with open(os.path.join(crawl, f"part-{k:03d}.jsonl"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    # replay: line dedup keeps each line's first (doc_id, position)
    seen = set()
    after_lines = {}
    for did in sorted(docs):
        kept = []
        for ln in docs[did]:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        if kept:
            after_lines[did] = "\n".join(kept)
    # near-dup dedup: every cluster keeps its smallest id
    for members in clusters:
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                j = jaccard(after_lines[members[a]], after_lines[members[b]])
                assert j >= THRESHOLD + 0.05, (members, j)
    losers = {m for members in clusters for m in members[1:]}
    # repetition gate, redaction, per-domain token budget in doc_id order
    survivors = {}
    for did, text in after_lines.items():
        if did in losers:
            continue
        toks = text.split()
        counts = Counter(toks)
        if len(counts) / len(toks) >= GATE_DISTINCT and \
                max(counts.values()) / len(toks) <= GATE_TOP:
            survivors[did] = (EMAIL_RE.sub("<EMAIL>", text), len(toks))
    totals = defaultdict(int)
    for did, (_, n) in survivors.items():
        totals[meta[did]["domain"]] += n
    budgets = {d: int(totals[d] * BUDGET_SHARE) for d in DOMAINS}
    with open(os.path.join(out_dir, "budgets.csv"), "w") as f:
        f.write("domain,token_budget\n")
        f.writelines(f"{d},{b}\n" for d, b in budgets.items())
    cum = defaultdict(int)
    expected = {}
    for did in sorted(survivors):
        text, n = survivors[did]
        dom = meta[did]["domain"]
        cum[dom] += n  # the running total counts every document, kept or not
        if cum[dom] <= budgets[dom]:
            expected[did] = {"text": text, "n_tok": n, "domain": dom}
    return {
        "docs": expected,
        "budgets": budgets,
        "corrupt": corrupt,
        "planted": {
            "docs": n_docs, "clusters": len(clusters), "cluster_losers": len(losers),
            "spam": sum(1 for k in kind.values() if k == "spam"),
            "boilerplate_only": sum(1 for k in kind.values() if k == "boiler"),
            "emails": sum(1 for t in docs.values() if EMAIL_RE.search("\n".join(t))),
            "corrupt_lines": corrupt, "line_dedup_survivors": len(after_lines),
            "gate_survivors": len(survivors), "output_docs": len(expected),
        },
    }


if __name__ == "__main__":
    import sys
    exp = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
    print(json.dumps(exp["planted"]), json.dumps(exp["budgets"]))
