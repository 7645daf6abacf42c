"""Seeded input generators for the corpus-pipeline benchmark.

Every generator is a pure function of (seed, output directory): the same
seed writes byte-identical files, a different seed changes the bytes but
not the planted shares (exact duplicates, near duplicates, re-crawls,
invalid and malformed records, takedowns). Each returns a manifest with
the files it wrote, their sizes and the ground truth the harness checks
against.
"""
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Planted shares, fixed across seeds. Near duplicates change one word of
# a 26+ word text, so their 3-word-shingle Jaccard stays >= 0.78, far above
# the engine's 0.5 fuzzy threshold (banded MinHash misses such a pair with
# probability < 1e-6); distinct texts share almost no shingles, so no pair
# sits near the threshold.
MEDALLION = dict(base=4000, files=4, exact_dup=0.10, near_dup=0.05,
                 invalid=0.03, malformed=0.005, legacy=0.25, myn=0.3)
WAVES = dict(waves=2, per_wave=300, in_wave_exact=0.04, in_wave_near=0.03,
             recrawl_exact=0.08, recrawl_near=0.05, too_short=0.01,
             too_long=0.01, takedown=0.03)
# One image wave after the text waves. The engine's synthetic codec
# renders an id as scene id // variants_per_scene (ids of a scene are near
# duplicates) and makes ids divisible by corrupt_every undecodable. The
# wave is a contiguous id run starting at a seeded multiple of both, so
# every seed plants the same scenes and corrupt ids.
MEDIA = dict(image_ids=48, variants_per_scene=3, corrupt_every=29)

ES_SYL = ["ca", "ma", "no", "ri", "te", "lo", "sa", "mi", "pe", "du", "ña",
          "rá", "bé", "ló", "tú", "gí", "ve", "zo", "ya", "che"]
NAH_SYL = ["tla", "tzi", "cal", "li", "ā", "mē", "xō", "tō", "hua", "ēl",
           "ni", "co", "pā", "qui", "ye", "mo", "tē", "ō", "cih", "tl"]
MYN_SYL = ["k'a", "ch'o", "t'u", "p'e", "ts'i", "ba", "ja", "le", "xi",
           "way", "ool", "kin", "naj", "ik'", "u"]
SALTILLO = ["'", "’", "`", "ʔ", "ʼ"]
SOURCES = ["huggingface", "youtube", "pdf", "manual", "synthetic", "bible"]


def _word(rng, syl, lo=2, hi=4):
    return "".join(rng.choice(syl) for _ in range(rng.randint(lo, hi)))


def _sentence(rng, syl, lo, hi):
    return " ".join(_word(rng, syl) for _ in range(rng.randint(lo, hi)))


def _replace_word(rng, text, syl):
    words = text.split(" ")
    i = rng.randrange(len(words))
    new = words[i]
    while new == words[i]:
        new = _word(rng, syl)
    words[i] = new
    return " ".join(words)


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(r if isinstance(r, str) else
                    json.dumps(r, ensure_ascii=False, sort_keys=True))
            f.write("\n")


def _write_parquet(path, table):
    pq.write_table(table, path, compression="snappy")


def _files(out_dir, names):
    files = {n: os.path.getsize(os.path.join(out_dir, n)) for n in names}
    return files, sum(files.values())


def fingerprint(out_dir, names):
    """SHA-256 over the named files' bytes, in name order."""
    h = hashlib.sha256()
    for n in sorted(names):
        with open(os.path.join(out_dir, n), "rb") as f:
            h.update(n.encode())
            h.update(f.read())
    return h.hexdigest()


def medallion(seed, out_dir):
    """Parallel es/nah/myn JSONL corpus for the bronze..gold pipeline."""
    p = MEDALLION
    rng = random.Random(f"medallion/{seed}")
    base = []
    for i in range(p["base"]):
        es = "¿" + _sentence(rng, ES_SYL, 14, 20) + "?"
        nah = _sentence(rng, NAH_SYL, 12, 16)
        nah = nah.replace(" ", " " + rng.choice(SALTILLO), 1) \
            if rng.random() < 0.3 else nah
        myn = _sentence(rng, MYN_SYL, 6, 10) if rng.random() < p["myn"] else None
        base.append((es, nah, myn))
    n = p["base"]
    exact = [base[rng.randrange(n)] for _ in range(int(n * p["exact_dup"]))]
    near = [(_replace_word(rng, es, ES_SYL), nah, myn)
            for es, nah, myn in rng.sample(base, int(n * p["near_dup"]))]

    def canonical(rec):
        es, nah, myn = rec
        r = {"es": es, "nah": nah, "source": rng.choice(SOURCES)}
        if myn is not None:
            r["myn"] = myn
        return r

    def legacy(rec):
        es, nah, myn = rec
        k = rng.randrange(3)
        if k == 0:
            r = {"es_translation": es, "nah_translation": nah,
                 "source_file": "legacy_pairs.jsonl"}
        elif k == 1:
            r = {"prompt": es, "chosen": nah, "rejected": "mal"}
        else:
            r = {"original_audio_text": nah, "detected_language": "nah",
                 "original_es": es}
        if myn is not None:
            r["myn_translation"] = myn
        return r

    # exact duplicates also arrive padded or under a legacy key layout:
    # both coalesce to the same normalized key
    rows = []
    for rec in base + near:
        rows.append(legacy(rec) if rng.random() < p["legacy"] else canonical(rec))
    for rec in exact:
        r = legacy(rec) if rng.random() < 0.5 else canonical(rec)
        if "es" in r:
            r["es"] = "  " + r["es"] + " "
        rows.append(r)
    n_invalid = int(n * p["invalid"])
    for k in range(n_invalid):
        rows.append({"es": _sentence(rng, ES_SYL, 4, 8)} if k % 2 == 0 else
                    {"nah": _sentence(rng, NAH_SYL, 4, 8), "source": "manual"})
    n_malformed = int(n * p["malformed"])
    for _ in range(n_malformed):
        rows.append('{"es": "' + _sentence(rng, ES_SYL, 2, 4) + '", "nah": ')
    rng.shuffle(rows)

    names = [f"corpus_{i}.jsonl" for i in range(p["files"])]
    for i, name in enumerate(names):
        _write_jsonl(os.path.join(out_dir, name), rows[i::p["files"]])
    files, nbytes = _files(out_dir, names)
    silver = len(base) + len(near) + len(exact)
    return {"files": files, "bytes": nbytes, "records": len(rows),
            "truth": {"bronze": len(rows) - n_malformed, "silver": silver,
                      "diamond": len(base), "gold": len(base)}}


def waves(seed, out_dir):
    """Id-ordered text waves with in-wave and re-crawl duplicates, then
    the id set of one image wave."""
    p = WAVES
    rng = random.Random(f"waves/{seed}")
    vocab = sorted({_word(rng, ES_SYL + NAH_SYL, 2, 3) for _ in range(6000)})
    seen = []
    doc_id = 1000 + 17 * (seed % 1000)
    names, takedown, total, all_docs = [], [], 0, []
    m = p["per_wave"]
    for w in range(p["waves"]):
        ids, texts = [], []
        # exact planted counts; re-crawls need an earlier wave, in-wave
        # repeats an earlier text of the same wave (so the wave opens fresh)
        kinds = [k for k in ("too_short", "too_long", "in_wave_exact",
                             "in_wave_near") + (("recrawl_exact", "recrawl_near")
                                                if seen else ())
                 for _ in range(int(m * p[k]))]
        kinds += ["fresh"] * (m - len(kinds))
        rng.shuffle(kinds)
        first = kinds.index("fresh")
        kinds[0], kinds[first] = kinds[first], kinds[0]
        for kind in kinds:
            if kind == "too_short":
                t = rng.choice(["ok", "a"])
            elif kind == "too_long":
                t = " ".join(rng.choice(vocab) for _ in range(260))
            elif kind == "in_wave_exact":
                t = rng.choice(texts)
            elif kind == "in_wave_near":
                t = _replace_word(rng, rng.choice(texts), ES_SYL)
            elif kind == "recrawl_exact":
                t = rng.choice(seen)
            elif kind == "recrawl_near":
                t = _replace_word(rng, rng.choice(seen), ES_SYL)
            else:
                t = " ".join(rng.choice(vocab) for _ in range(rng.randint(40, 60)))
            ids.append(doc_id)
            texts.append(t)
            doc_id += 1
        seen.extend(texts)
        all_docs.extend(zip(ids, texts))
        takedown.extend(rng.sample(ids, int(m * p["takedown"])))
        name = f"wave_{w + 1}.parquet"
        _write_parquet(os.path.join(out_dir, name), pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array([f"crawl{w + 1}"] * m, pa.string())}))
        names.append(name)
        total += m
    _write_parquet(os.path.join(out_dir, "takedown.parquet"), pa.table({
        "doc_id": pa.array(sorted(takedown), pa.int64())}))
    m = MEDIA
    start = m["variants_per_scene"] * m["corrupt_every"] * (1 + rng.randrange(10 ** 6))
    _write_parquet(os.path.join(out_dir, "image_ids.parquet"), pa.table({
        "doc_id": pa.array(range(start, start + m["image_ids"]), pa.int64())}))
    names.append("image_ids.parquet")
    total += m["image_ids"]
    files, nbytes = _files(out_dir, names)
    gold = _batch_dedup(all_docs)
    return {"files": files, "bytes": nbytes, "records": total,
            "waves": p["waves"] + 1, "takedown": len(takedown),
            "variants_per_scene": m["variants_per_scene"],
            "corrupt_every": m["corrupt_every"],
            "truth": {"gold": sorted(gold),
                      "after_takedown": sorted(set(gold) - set(takedown))}}


def _batch_dedup(docs):
    """The ids the batch pipeline keeps, computed exactly: the length
    gate, keep-lowest-id per lower(trim(text)), then drop every text whose
    3-word-shingle Jaccard with a lower-id survivor of the exact stage is
    >= 0.5. Refuses an input where any text's best match falls between
    0.3 and 0.8, where MinHash could decide either way."""
    seen_keys, exact = set(), []
    for doc_id, text in sorted(docs):
        key = text.strip(" ").lower()
        if 3 <= len(text) <= 1000 and key not in seen_keys:
            seen_keys.add(key)
            exact.append((doc_id, key))
    index, kept = {}, []
    for doc_id, key in exact:
        ws = key.split()
        sh = {" ".join(ws)} if len(ws) <= 3 else \
            {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
        best = 0.0
        for other in {o for g in sh for o in index.get(g, ())}:
            best = max(best, len(sh & other) / len(sh | other))
        if 0.3 < best < 0.8:
            raise ValueError(f"doc {doc_id}: best Jaccard {best:.2f} is ambiguous")
        if best < 0.5:
            kept.append(doc_id)
        fs = frozenset(sh)
        for g in sh:
            index.setdefault(g, []).append(fs)
    return kept


GENERATORS = {"medallion_batch": medallion, "ingest_waves": waves}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    m = GENERATORS[workload](seed, out_dir)
    m["fingerprint"] = fingerprint(out_dir, list(m["files"]))
    return m
