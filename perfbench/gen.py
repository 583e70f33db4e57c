"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files, which `digest` checks on every run.

* `etl`     - the reference dataflow's raw inputs: monthly Contracts
              Finder URI CSVs (2a) and daily ZIPs of TED / UK7 XML
              notices (2b), with planted duplicate URIs, invalid-JSON
              URIs and malformed notices.
* `stream`  - document files for the LSH near-dedup ingest, in two
              landing directories, with planted exact and near
              duplicates.
"""
import datetime
import hashlib
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Marker the in-process fetcher turns into a non-JSON body.
BROKEN = "?format=broken"
CF_BASE = "https://www.contractsfinder.service.gov.uk/Published/Notice/OCDS"


def _rng(seed, salt):
    """Independent stream per (seed, purpose)."""
    h = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _write_parquet(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _doc_text(rng, n_words, words):
    idx = rng.integers(0, len(words), n_words)
    return " ".join(words[i] for i in idx)


def _ted_xml(i, pad):
    return (f'<TED_EXPORT><TD_DOCUMENT_TYPE CODE="{3 + i % 5}"/><NOTICE_DATA>'
            f'<NO_DOC_OJS>S-{i}</NO_DOC_OJS><ORIGINAL_CPV CODE="{45000000 + i % 97}">'
            f'works</ORIGINAL_CPV><NUTS2021 CODE="UK{i % 13}"/></NOTICE_DATA>'
            f'<TRANSLATION_SECTION><ML_TITLES><ML_TI_DOC LG="EN"><TI_TEXT>Notice {i}'
            f'</TI_TEXT></ML_TI_DOC></ML_TITLES></TRANSLATION_SECTION>'
            f'<CONTRACTING_BODY><OFFICIALNAME>Buyer {i % 211}</OFFICIALNAME>'
            f'</CONTRACTING_BODY><OBJECT_CONTRACT><VAL_TOTAL CURRENCY="GBP">'
            f'{i % 90000}.25</VAL_TOTAL></OBJECT_CONTRACT><DESCRIPTION>{pad}'
            f'</DESCRIPTION></TED_EXPORT>')


def _uk7_xml(i, pad):
    return (f"<UK7_2023><NOTICE_ID>U-{i}</NOTICE_ID><TENDER><TITLE>tender {i}</TITLE>"
            f"<VALUE>{i % 9000}.50</VALUE><CATEGORY>{('works', 'goods', 'services')[i % 3]}"
            f"</CATEGORY></TENDER><BUYER><NAME>Dept {i % 97}</NAME></BUYER>"
            f"<TAGS><TAG>award</TAG></TAGS><NOTES>{pad}</NOTES></UK7_2023>")


_ZIP_TIME = (2024, 1, 1, 0, 0, 0)


def etl(out, seed, months, uris_per_month, days, notices_per_day):
    """2a: `months` monthly URI CSVs; 2b: `days` daily ZIPs. Returns the
    planted counts the output checks compare against."""
    r = _rng(seed, "etl")
    cf = f"{out}/cf"
    zips = f"{out}/zips"
    os.makedirs(cf, exist_ok=True)
    os.makedirs(zips, exist_ok=True)

    seen = []          # URIs already written, in file order
    valid = broken = dup = blank = 0
    next_id = 0
    for m in range(months):
        month = datetime.date(2023 + (m // 12), 1 + m % 12, 1)
        lines = ["uri,title"]
        for _ in range(uris_per_month):
            x = r.random()
            if seen and x < 0.06:           # duplicate, within or across files
                uri = seen[int(r.integers(0, len(seen)))]
                dup += 1
            elif x < 0.065:                 # blank row: skipped by uriTable
                lines.append(",blank")
                blank += 1
                continue
            else:
                next_id += 1
                uri = f"{CF_BASE}/{next_id:08d}"
                if r.random() < 0.03:
                    uri += BROKEN
                    broken += 1
                else:
                    valid += 1
                seen.append(uri)
            lines.append(f"{uri},notice {len(lines)}")
        with open(f"{cf}/notices-{month.isoformat()}.csv", "w") as f:
            f.write("\n".join(lines) + "\n")

    words = [f"w{i}" for i in range(400)]
    day0 = datetime.date(2024, 1, 1)
    malformed = 0
    nid = 0
    for d in range(days):
        day = day0 + datetime.timedelta(days=d)
        with zipfile.ZipFile(f"{zips}/notices-{day.isoformat()}.zip", "w",
                             zipfile.ZIP_DEFLATED) as z:
            for _ in range(notices_per_day):
                nid += 1
                pad = _doc_text(r, int(r.integers(60, 200)), words)
                if r.random() < 0.02:
                    xml = f"<TED_EXPORT><broken {nid}"
                    malformed += 1
                elif nid % 2 == 0:
                    xml = _ted_xml(nid, pad)
                else:
                    xml = _uk7_xml(nid, pad)
                info = zipfile.ZipInfo(f"n{nid:08d}.xml", _ZIP_TIME)
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, xml.encode("utf-8"))
    return {"cf_rows": valid + broken + dup, "cf_ok": valid, "cf_invalid": broken,
            "cf_dup": dup, "cf_blank": blank, "fat_notices": nid,
            "fat_malformed": malformed, "fat_ok": nid - malformed}


def stream(out, seed, files_per_landing, docs_per_file):
    """Two landing directories of document files. Doc ids rise across
    files, so arrival order is id order; 6 % of docs are near
    duplicates (an earlier doc with a word added) and 3 % exact copies
    of an earlier doc's text."""
    r = _rng(seed, "stream")
    words = [f"t{i}" for i in range(3000)]
    langs = np.array(["en", "de", "es", "fr"])
    texts = []
    did = 0
    near = exact = 0
    for landing in (1, 2):
        d = f"{out}/landing{landing}"
        os.makedirs(d, exist_ok=True)
        for k in range(files_per_landing):
            ids, batch = [], []
            for _ in range(docs_per_file):
                x = r.random()
                if texts and x < 0.06:
                    t = texts[int(r.integers(0, len(texts)))] + " " + words[int(r.integers(0, 3000))]
                    near += 1
                elif texts and x < 0.09:
                    t = texts[int(r.integers(0, len(texts)))]
                    exact += 1
                else:
                    t = _doc_text(r, int(r.integers(40, 120)), words)
                texts.append(t)
                ids.append(did)
                batch.append(t)
                did += 1
            _write_parquet(pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": batch,
                "lang": langs[r.integers(0, 4, len(ids))],
                "source": [f"feed{landing}" for _ in ids],
                "n_chars": pa.array([len(t) for t in batch], pa.int64())}),
                f"{d}/docs-{k:04d}.parquet")
            # the file source orders a backlog by modification time
            t = 1_700_000_000 + 60 * (landing * 1000 + k)
            os.utime(f"{d}/docs-{k:04d}.parquet", (t, t))
    return {"docs": did, "near_planted": near, "exact_planted": exact}


def digest(root):
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def input_bytes(root):
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(root) for f in fs)
