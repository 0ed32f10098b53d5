"""Seeded input generators for the benchmark workloads.

The generator takes the seed and an output directory, writes the files the
program reads, and returns the ground truth the checks compare against. The
same seed always gives byte-identical inputs.

  pipeline: a raw corpus of HTML/PDF text files and CSV/JSON/XLSX tables,
            each with an `X_metadata.json` sidecar, built from the text of
            `documents.parquet`; seeded exact duplicates, PII strings, short
            documents and malformed files.
"""
import io
import json
import os
import random
import zipfile
import zlib

import pyarrow.parquet as pq

# The corpus mix below is assumed, not measured: the repository holds no
# measured format mix or defect rate for the portal files the pipeline reads.
# Each rate is set so that every path the checks cover occurs in every seed's
# corpus while most files take the main path:
#   FORMAT_WEIGHTS  mostly HTML and PDF text, a minority of tables, so the
#                   extractors carry most files and each converter some;
#   DUPLICATE_RATE  byte-identical copies of earlier files, for dedupe;
#   MALFORMED_RATE  truncated PDF/XLSX/JSON, API error payloads and HTML
#                   without text, for the fail-soft rejections;
#   SHORT_RATE      single short HTML/PDF documents, for the length gate;
#   PII_RATE        normal files with a planted e-mail and/or phone number,
#                   for anonymize.
FORMATS = ["html", "pdf", "csv", "json", "xlsx"]
FORMAT_WEIGHTS = [0.42, 0.33, 0.09, 0.09, 0.07]
DUPLICATE_RATE = 0.06
MALFORMED_RATE = 0.04
SHORT_RATE = 0.08
PII_RATE = 0.25
LONG_MIN = 260   # every long document clears the 200-char enrich gate alone
SHORT_MAX = 150  # a short file holds one document under the gate
SHARDS = 8
LICENSES = ["OGL-UK-3.0", "CC-BY-4.0", "Open Government Licence v3.0", "CC0", ""]
FIRST = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]
LAST = ["smith", "jones", "taylor", "brown", "wilson", "evans", "thomas"]


def load_documents(sf_dir):
    """(doc_id, text, lang) rows of documents.parquet whose text is unique."""
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text", "lang"]).to_pylist()
    seen = {}
    for r in t:
        seen[r["text"]] = seen.get(r["text"], 0) + 1
    return [r for r in t if seen[r["text"]] == 1]


# --------------------------------------------------------------- pipeline

def _html(title, texts, empty=False):
    body = "" if empty else "\n".join(f"<p>{t}</p>" for t in texts)
    return (f'<!DOCTYPE html>\n<html><head><meta charset="utf-8"><title>{title}</title>\n'
            f"<style>body {{ font-family: sans-serif; }}</style>\n"
            f"<script>window.analytics = {{page: 1}};</script></head>\n"
            f'<body><div class="content">\n{body}\n</div></body></html>\n').encode()


def _pdf(texts, flate):
    ops = "BT /F1 11 Tf 72 720 Td " + " T* ".join(f"({t}) Tj" for t in texts) + " ET"
    data = zlib.compress(ops.encode("latin-1")) if flate else ops.encode("latin-1")
    filt = " /Filter /FlateDecode" if flate else ""
    head = (b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
            + f"4 0 obj << /Length {len(data)}{filt} >>\nstream\n".encode())
    tail = (b"\nendstream\nendobj\n"
            b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n"
            b"trailer << /Root 1 0 R >>\n%%EOF\n")
    return head + data + tail, len(head)


def _xlsx(rows):
    def cell(ref, v):
        v = str(v).replace("&", "&amp;").replace("<", "&lt;")
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
    sheet_rows = "".join(
        f'<row r="{i + 1}">{cell(f"A{i + 1}", a)}{cell(f"B{i + 1}", b)}</row>'
        for i, (a, b) in enumerate([("doc_id", "text")] + rows))
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        "xl/workbook.xml":
            f'<?xml version="1.0"?><workbook {ns} {rns}><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="worksheet" Target="worksheets/sheet1.xml"/></Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>{sheet_rows}</sheetData></worksheet>',
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            z.writestr(info, body, compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def _csv(rows):
    out = io.StringIO()
    out.write("doc_id,text\n")
    for a, b in rows:
        out.write(f'{a},"{b}"\n')
    return out.getvalue().encode()


def _json(rows, wrapped):
    recs = [{"doc_id": a, "text": b} for a, b in rows]
    return json.dumps({"data": recs} if wrapped else recs).encode()


def gen_pipeline(seed, out_dir, sf_dir, n_files):
    """Write `out_dir/corpus` and return its ground truth."""
    rng = random.Random(seed)
    docs = load_documents(sf_dir)
    longs = [d for d in docs if len(d["text"]) >= LONG_MIN]
    shorts = [d for d in docs if len(d["text"]) <= SHORT_MAX]
    rng.shuffle(longs)
    rng.shuffle(shorts)
    corpus = os.path.join(out_dir, "corpus")
    for s in range(SHARDS):
        os.makedirs(os.path.join(corpus, f"shard{s:02d}"), exist_ok=True)

    files = {}      # rel path -> dict(ext, kind, content_key, emails, phones)
    written = []    # (rel, ext) of normal files, candidates for duplication
    pii_emails = pii_phones = 0

    def put(rel, ext, payload, lang, kind, key=None, emails=0, phones=0):
        with open(os.path.join(corpus, rel), "wb") as f:
            f.write(payload)
        meta = {"title": f"Dataset {os.path.basename(rel)}", "lang": lang,
                "license": rng.choice(LICENSES), "source": "perfbench"}
        stem = rel[: -(len(ext) + 1)]
        with open(os.path.join(corpus, stem + "_metadata.json"), "w") as f:
            json.dump(meta, f)
        files[rel] = {"ext": ext, "kind": kind, "key": key, "emails": emails, "phones": phones}

    used = set()

    def take_longs(k):
        # documents repeat across files, but never in the same combination
        while True:
            pick = tuple(rng.sample(range(len(longs)), k))
            if pick not in used:
                used.add(pick)
                return [longs[j] for j in pick]

    for i in range(n_files):
        rel = f"shard{rng.randrange(SHARDS):02d}/f{i:05d}"
        ext = rng.choices(FORMATS, FORMAT_WEIGHTS)[0]
        r = rng.random()
        if r < DUPLICATE_RATE and written:
            src_rel, src_ext = rng.choice(written)
            with open(os.path.join(corpus, src_rel), "rb") as f:
                payload = f.read()
            src = files[src_rel]
            put(f"{rel}.{src_ext}", src_ext, payload, "en", "duplicate", src["key"],
                src["emails"], src["phones"])
            continue
        if r < DUPLICATE_RATE + MALFORMED_RATE:
            ext = rng.choice(["html", "pdf", "json", "json", "xlsx"])
            d = take_longs(2)
            texts = [x["text"] for x in d]
            if ext == "html":
                payload, kind = _html("", texts, empty=True), "malformed:no_text"
            elif ext == "pdf":
                full, start = _pdf(texts, flate=rng.random() < 0.5)
                payload, kind = full[: start + (len(full) - start) // 3], "malformed:truncated"
            elif ext == "json":
                if rng.random() < 0.5:
                    full = _json([(x["doc_id"], x["text"]) for x in d], wrapped=False)
                    payload, kind = full[: len(full) // 2], "malformed:truncated"
                else:
                    payload, kind = b'{"error": "rate limit exceeded", "status": 429}', "malformed:api_error"
            else:
                full = _xlsx([(x["doc_id"], x["text"]) for x in d])
                cut = full.index(b"xl/worksheets/sheet1.xml") + 60
                payload, kind = full[:cut], "malformed:truncated"
            put(f"{rel}.{ext}", ext, payload, d[0]["lang"], kind)
            continue
        if r < DUPLICATE_RATE + MALFORMED_RATE + SHORT_RATE and ext in ("html", "pdf"):
            d = shorts.pop()
            payload = _html(f"doc {i}", [d["text"]]) if ext == "html" else _pdf([d["text"]], flate=False)[0]
            put(f"{rel}.{ext}", ext, payload, d["lang"], "short", f"short:{i}")
            continue
        d = take_longs(rng.randint(2, 6))
        texts = [x["text"] for x in d]
        emails = phones = 0
        if rng.random() < PII_RATE:
            j = rng.randrange(len(texts))
            words = texts[j].split(" ")
            pii = []
            if rng.random() < 0.7:
                pii.append(f"{rng.choice(FIRST)}.{rng.choice(LAST)}{rng.randrange(100)}@example.org")
                emails += 1
            if not pii or rng.random() < 0.5:
                pii.append(rng.choice([f"+44 20 7946 {rng.randrange(10000):04d}",
                                       f"020 7946 {rng.randrange(10000):04d}"]))
                phones += 1
            for p in pii:
                words.insert(rng.randrange(1, len(words)), p)
            texts[j] = " ".join(words)
        rows = [(x["doc_id"], t) for x, t in zip(d, texts)]
        if ext == "html":
            payload = _html(f"doc {i}", texts)
        elif ext == "pdf":
            payload = _pdf(texts, flate=rng.random() < 0.5)[0]
        elif ext == "csv":
            payload = _csv(sorted(rows))
        elif ext == "json":
            payload = _json(rows, wrapped=rng.random() < 0.5)
        else:
            payload = _xlsx(rows)
        put(f"{rel}.{ext}", ext, payload, d[0]["lang"], "normal", f"doc:{i}", emails, phones)
        written.append((f"{rel}.{ext}", ext))

    for s in rng.sample(range(SHARDS), 2):
        with open(os.path.join(corpus, f"shard{s:02d}", ".DS_Store"), "wb") as f:
            f.write(bytes(rng.randrange(256) for _ in range(64)))

    # Expected outcome per file. Dedupe keeps the smallest path of each group
    # of identical files, as first-wins ordered by path does.
    first = {}
    for rel in sorted(files):
        f = files[rel]
        if f["kind"] in ("normal", "duplicate"):
            first.setdefault(f["key"], rel)
    expect = {}
    for rel, f in files.items():
        if f["kind"].startswith("malformed"):
            expect[rel] = "extract" if f["ext"] in ("html", "pdf") else "convert"
        elif f["kind"] == "short":
            expect[rel] = "gate"
        else:
            expect[rel] = "ok" if first[f["key"]] == rel else "dedupe"
    for rel, f in files.items():
        if expect[rel] == "ok":
            pii_emails += f["emails"]
            pii_phones += f["phones"]
    counts = {
        "files": len(files),
        "listed": 2 * len(files),
        "bytes": sum(os.path.getsize(os.path.join(corpus, r)) for r in files),
        "by_ext": {e: sum(1 for f in files.values() if f["ext"] == e) for e in FORMATS},
        "by_kind": {k: sum(1 for f in files.values() if f["kind"] == k)
                    for k in sorted({f["kind"] for f in files.values()})},
        "by_stage": {s: sum(1 for v in expect.values() if v == s)
                     for s in ("extract", "convert", "dedupe", "gate", "ok")},
        "pii_in_survivors": {"emails": pii_emails, "phones": pii_phones},
    }
    return {"counts": counts, "expect": expect, "files": files}
