#!/usr/bin/env python3
"""Seeded CID-10-shaped catalog for the cid_etl workload, plus the
consolidated CSV each CidEtl entry point must write for it.

The catalog has the real catalog's shape and size: 22 chapters with the
official chapter ranges, ~275 blocks (some with ranges that overlap the
blocks around them, so first-match in file order decides), ~2,045
categories (a few outside every chapter) and ~12.4k subcategories. It is
written three ways:

  official/    the four DATASUS files (latin-1, ';'), read by dir mode;
  structured/  chapters/blocks/categories/subcategories (UTF-8, ','),
               plus datasus.csv, a flat DATASUS code list (latin-1, ';')
               with dirty codes: padding, lower case, no-break spaces,
               duplicates and codes absent from the hierarchy;
  expected_dir.csv, expected_combined.csv
               the pipeline's output, derived here in closed form from
               the hierarchy that was drawn.

The expected files follow CidEtl's contract: first-match range joins in
file order, the structured branch preferred over the DATASUS branch per
code with a total-order tiebreak, every cell quoted, UTF-8 with BOM.

Usage: gen_cid.py SEED OUTDIR
"""
import csv
import io
import pathlib
import random
import sys

RUN_DATE = "2026-01-15"
OUTPUT_COLS = ["cid_codigo", "cid_categoria", "cid_subcategoria", "titulo",
               "descricao", "capitulo_codigo", "capitulo_titulo",
               "bloco_codigo", "bloco_titulo", "fonte"]

CHAPTERS = [("A00", "B99"), ("C00", "D48"), ("D50", "D89"), ("E00", "E90"),
            ("F00", "F99"), ("G00", "G99"), ("H00", "H59"), ("H60", "H95"),
            ("I00", "I99"), ("J00", "J99"), ("K00", "K93"), ("L00", "L99"),
            ("M00", "M99"), ("N00", "N99"), ("O00", "O99"), ("P00", "P96"),
            ("Q00", "Q99"), ("R00", "R99"), ("S00", "T98"), ("V01", "Y98"),
            ("Z00", "Z99"), ("U00", "U99")]
ROMAN = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X", "XI",
         "XII", "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX", "XX",
         "XXI", "XXII"]
WORDS = ("doença infecção crônica aguda não especificada órgão lesão tumor "
         "maligna benigna pulmão coração fígado rim pele osso sangue "
         "síndrome transtorno complicação gravidez parto neoplasia "
         "traumatismo envenenamento exposição fratura inflamação "
         "deficiência anomalia congênita afecção hemorragia úlcera").split()


def code(i):
    """Category ordinal 0..2599 -> 'A00'..'Z99'."""
    return f"{chr(ord('A') + i // 100)}{i % 100:02d}"


def title(rng, k):
    words = [rng.choice(WORDS) for _ in range(k)]
    t = " ".join(words)
    if k > 3 and rng.random() < 0.2:
        t = t.replace(" ", ", ", 1)
    return t[0].upper() + t[1:]


def draw(seed):
    rng = random.Random(seed)
    chapters = [(lo, hi, f"Capítulo {ROMAN[i]} - {title(rng, 4)}")
                for i, (lo, hi) in enumerate(CHAPTERS)]

    # Categories: each code of A00..Z99 is present with a probability
    # that lands near the official 2,045.
    cats = [code(i) for i in range(2600) if rng.random() < 2045 / 2600]

    # Blocks: consecutive runs of present codes inside each chapter, and
    # wide blocks spliced in at random file positions that overlap them.
    blocks = []
    for lo, hi, _ in chapters:
        inside = [c for c in cats if lo <= c <= hi]
        i = 0
        while i < len(inside):
            n = rng.randint(4, 13)
            run = inside[i:i + n]
            blocks.append((run[0], run[-1]))
            i += n
    seen = set(blocks)
    for _ in range(25):
        while True:
            a = rng.randrange(0, 2560)
            b = min(2599, a + rng.randint(8, 40))
            rng_block = (code(a), code(b))
            if rng_block not in seen:
                break
        seen.add(rng_block)
        blocks.insert(rng.randrange(0, len(blocks) + 1), rng_block)
    blocks = [(lo, hi, title(rng, 3)) for lo, hi in blocks]

    categories = [(c, title(rng, 4)) for c in cats]

    # Subcategories: 0..12 per category; a category with none appears
    # once with a blank 4th position (its 3-character root).
    subcats = []
    for c, _ in categories:
        k = rng.randint(0, 12)
        if k == 0:
            subcats.append((c + " ", title(rng, 5)))
        for d in range(k):
            raw = f"{c}{d}"
            if rng.random() < 0.05:
                raw = raw.lower()
            if rng.random() < 0.05:
                raw = raw + " "
            subcats.append((raw, title(rng, 5)))
    return rng, chapters, blocks, categories, subcats


# ---- CidEtl semantics, row at a time -------------------------------------

def normalize(s):
    """CidFunctions.normalizeCode: Python-style strip, then upper."""
    return None if s is None else s.strip().upper()


def marker(c):
    return c if c is not None and "." in c else None


def format_subcat(raw):
    s = raw.upper().strip(" ")
    if len(s) >= 4 and s[3].strip(" ") != "":
        return s[:3] + "." + s[3:]
    return s[:3]


def first_match(value_preds, ranges):
    for r in ranges:
        if value_preds(r):
            return r
    return None


def consolidate(rows):
    """Union of both branches -> one row per code: "Estruturada" before
    "DATASUS", then every other column ascending, nulls last, in UTF-8
    byte order (Spark's string order)."""
    def key(r):
        k = [0 if r["fonte"] == "Estruturada" else 1]
        for c in OUTPUT_COLS[1:]:
            v = r[c]
            k.append((1, b"") if v is None else (0, v.encode("utf-8")))
        return k
    best = {}
    for r in rows:
        r = dict(r, cid_codigo=normalize(r["cid_codigo"]))
        cur = best.get(r["cid_codigo"])
        if cur is None or key(r) < key(cur):
            best[r["cid_codigo"]] = r
    return list(best.values())


def category_map(categories, chapter_title, block_info):
    """categories (code, title, block_id, chapter_code) -> the joined
    hierarchy row per category code."""
    out = {}
    for code_, ctitle, block_id, chap in categories:
        btitle, bchap = block_info.get(block_id, (None, None))
        out[code_] = {
            "category_title": ctitle, "block_id": block_id,
            "block_title": btitle if block_id in block_info else None,
            "chapter_code": chap if chap is not None else bchap,
            "chapter_title": chapter_title.get(chap),
        }
    return out


def structured_rows(subcats, cmap):
    """subcats: (subcategory_code, title, category_code)."""
    rows = []
    for sc, stitle, cat in subcats:
        h = cmap.get(cat, {})
        cid = normalize(sc)
        rows.append({
            "cid_codigo": cid, "cid_categoria": normalize(cat),
            "cid_subcategoria": marker(cid), "titulo": stitle,
            "descricao": stitle,
            "capitulo_codigo": h.get("chapter_code"),
            "capitulo_titulo": h.get("chapter_title"),
            "bloco_codigo": h.get("block_id"),
            "bloco_titulo": h.get("block_title"),
            "fonte": "Estruturada"})
    return rows


def datasus_rows(codes, cmap):
    """codes: (codigo, descricao) as read."""
    norm = {normalize(k): v for k, v in cmap.items()}
    rows = []
    for codigo, desc in codes:
        cid = normalize(codigo)
        h = norm.get(cid.split(".", 1)[0], {})
        rows.append({
            "cid_codigo": cid, "cid_categoria": cid.split(".", 1)[0],
            "cid_subcategoria": marker(cid), "titulo": desc,
            "descricao": desc,
            "capitulo_codigo": h.get("chapter_code"),
            "capitulo_titulo": h.get("chapter_title"),
            "bloco_codigo": h.get("block_id"),
            "bloco_titulo": h.get("block_title"),
            "fonte": "DATASUS"})
    return rows


def bom_csv(rows):
    def q(v):
        return '"' + ("" if v is None else v).replace('"', '""') + '"'
    cols = OUTPUT_COLS + ["dt_atualizacao"]
    lines = [";".join(q(c) for c in cols)]
    for r in rows:
        lines.append(";".join(q(r[c]) for c in OUTPUT_COLS) + ";" + q(RUN_DATE))
    return ("\ufeff" + "\n".join(lines) + "\n").encode("utf-8")


def write_csv(path, header, rows, sep, encoding):
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    path.write_bytes(buf.getvalue().encode(encoding))


def main(seed, outdir):
    out = pathlib.Path(outdir)
    off, st = out / "official", out / "structured"
    off.mkdir(parents=True, exist_ok=True)
    st.mkdir(parents=True, exist_ok=True)
    rng, chapters, blocks, categories, subcats = draw(seed)

    # -- dir mode: the four official files -------------------------------
    write_csv(off / "CID-10-CAPITULOS.csv",
              ["NUMCAP", "CATINIC", "CATFIM", "DESCRICAO", "DESCRABREV"],
              [(i + 1, lo, hi, t, t[:20]) for i, (lo, hi, t) in
               enumerate(chapters)], ";", "latin-1")
    write_csv(off / "CID-10-GRUPOS.csv",
              ["CATINIC", "CATFIM", "DESCRICAO", "DESCRABREV"],
              [(lo, hi, t, t[:20]) for lo, hi, t in blocks], ";", "latin-1")
    write_csv(off / "CID-10-CATEGORIAS.csv",
              ["CAT", "CLASSIF", "DESCRICAO", "DESCRABREV", "REFER",
               "EXCLUIDOS"],
              [(c, "", t, t[:20], "", "") for c, t in categories], ";",
              "latin-1")
    write_csv(off / "CID-10-SUBCATEGORIAS.csv",
              ["SUBCAT", "CLASSIF", "RESTRSEXO", "CAUSAOBITO", "DESCRICAO",
               "DESCRABREV", "REFER", "EXCLUIDOS"],
              [(s, "", "", "", t, t[:20], "", "") for s, t in subcats], ";",
              "latin-1")

    chap_ranges = [(lo, hi, f"{lo}-{hi}", t) for lo, hi, t in chapters]
    block_ranges = [(lo, hi, f"{lo}-{hi}", t) for lo, hi, t in blocks]

    def containing(v):
        return lambda r: r[0] <= v <= r[1]

    dir_cats = []
    for c, t in categories:
        b = first_match(containing(c), block_ranges)
        ch = first_match(containing(c), chap_ranges)
        dir_cats.append((c, t, b and b[2], ch and ch[2]))
    dir_blocks = {}
    for lo, hi, bid, t in block_ranges:
        ch = first_match(lambda r: containing(lo)(r) or containing(hi)(r),
                         chap_ranges)
        dir_blocks[bid] = (t, ch and ch[2])
    chapter_title = {cid: t for _, _, cid, t in chap_ranges}
    cmap = category_map(dir_cats, chapter_title, dir_blocks)
    structured = structured_rows(
        [(format_subcat(s), t, s[:3].upper()) for s, t in subcats], cmap)
    (out / "expected_dir.csv").write_bytes(bom_csv(consolidate(
        structured + datasus_rows(
            [(r["cid_codigo"], r["descricao"]) for r in structured], cmap))))

    # -- combined mode: structured files + a dirty DATASUS list ----------
    write_csv(st / "chapters.csv", ["chapter_code", "chapter_title"],
              [(cid, t) for _, _, cid, t in chap_ranges], ",", "utf-8")
    write_csv(st / "blocks.csv", ["block_id", "block_title"],
              [(bid, t) for _, _, bid, t in block_ranges], ",", "utf-8")
    write_csv(st / "categories.csv",
              ["category_code", "category_title", "block_id", "chapter_code"],
              [(c, t, b or "", ch or "") for c, t, b, ch in dir_cats], ",",
              "utf-8")
    st_subcats = []
    for s, t in subcats:
        dotted = format_subcat(s)
        if rng.random() < 0.05:
            dotted = dotted.lower()
        st_subcats.append((dotted, t, s[:3].upper()))
    write_csv(st / "subcategories.csv",
              ["subcategory_code", "subcategory_title", "category_code"],
              st_subcats, ",", "utf-8")

    known = [normalize(s) for s, _, _ in st_subcats]
    codes = []
    for _ in range(len(subcats)):
        u = rng.random()
        if u < 0.75:
            c = rng.choice(known)
        elif u < 0.85:
            c = rng.choice(categories)[0]
        else:
            c = f"{code(rng.randrange(2600))}.{rng.randrange(10)}"
        v = rng.random()
        if v < 0.1:
            c = f" {c.lower()} "
        elif v < 0.15:
            c = "\xa0" + c
        elif v < 0.2:
            c = c + "  "
        desc = "" if rng.random() < 0.02 else f"{title(rng, 4)} (DATASUS)"
        codes.append((c, desc))
    write_csv(st / "datasus.csv", ["codigo", "descricao"], codes, ";",
              "latin-1")
    # blocks.csv has no chapter_code column: nothing to coalesce with.
    cmb_blocks = {bid: (t, None) for _, _, bid, t in block_ranges}
    cmap = category_map(dir_cats, chapter_title, cmb_blocks)
    (out / "expected_combined.csv").write_bytes(bom_csv(consolidate(
        structured_rows(st_subcats, cmap)
        + datasus_rows([(c, d or None) for c, d in codes], cmap))))


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2])
