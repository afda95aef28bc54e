#!/usr/bin/env python3
"""Generate miniature CID-10 fixtures + golden outputs for ScalaTest.

Runs the reference script (read-only, `etl_cid10.py` in the reference
checkout beside this repository) on the fixtures to freeze golden CSVs,
then pins dt_atualizacao to a fixed date so tests can inject the same
clock. Without the reference it exits non-zero before writing anything,
so inputs and goldens never go out of step. Dev tool — run once,
outputs are committed; neither the engine nor the tests depend on
pandas.
"""
import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
REFERENCE = REPO.parent / "reference" / "etl_cid10.py"
ROOT = REPO / "src" / "test" / "resources"
OFFICIAL = ROOT / "cid_official"
STRUCT = ROOT / "cid_structured"
GOLDEN = ROOT / "golden"
PINNED_DATE = "2026-01-15"

if not REFERENCE.is_file():
    raise SystemExit(f"reference script not found: {REFERENCE}; nothing written")

for d in (OFFICIAL, STRUCT, GOLDEN):
    d.mkdir(parents=True, exist_ok=True)

# ---- official DataSUS-style files (latin1, ';') ----
(OFFICIAL / "CID-10-CAPITULOS.csv").write_bytes(
    "NUMCAP;CATINIC;CATFIM;DESCRICAO;DESCRABREV\n"
    "1;A00;B99;Capítulo I - Algumas doenças infecciosas e parasitárias;I. Algumas doenças infecciosas\n"
    "2;C00;D48;Capítulo II - Neoplasias [tumores];II. Neoplasias\n"
    "19;S00;T98;Capítulo XIX - Lesões, envenenamento;XIX. Lesões\n".encode("latin1"))

# A00-A99 overlaps the two blocks before it → exercises first-match.
(OFFICIAL / "CID-10-GRUPOS.csv").write_bytes(
    "CATINIC;CATFIM;DESCRICAO;DESCRABREV\n"
    "A00;A09;Doenças infecciosas intestinais;Doenças infecciosas intestinais\n"
    "A15;A19;Tuberculose;Tuberculose\n"
    "A00;A99;Faixa ampla sobreposta;Faixa ampla\n"
    "C00;C14;Neoplasias malignas do lábio;Neoplasias lábio\n"
    "T51;T65;Efeitos tóxicos de substâncias;Efeitos tóxicos\n".encode("latin1"))

# Z99 falls in no chapter/block range → null hierarchy path.
(OFFICIAL / "CID-10-CATEGORIAS.csv").write_bytes(
    "CAT;CLASSIF;DESCRICAO;DESCRABREV;REFER;EXCLUIDOS\n"
    "A00;;Cólera;A00 Colera;;\n"
    "A15;;Tuberculose respiratória;A15 Tuberc respirat;;\n"
    "A20;;Peste;A20 Peste;;\n"
    "C00;;Neoplasia maligna do lábio;C00 Neopl maligna labio;;\n"
    "T65;;Efeito tóxico de outras substâncias;T65 Efeit toxic outr subst;;\n"
    "Z99;;Dependência de máquinas e dispositivos capacitantes;Z99 Depend maq disp capacit;;\n".encode("latin1"))

# "A00 " has a blank 4th position → stays a 3-char root (F6 edge);
# "t651" is lowercase → trim/upper path.
(OFFICIAL / "CID-10-SUBCATEGORIAS.csv").write_bytes(
    "SUBCAT;CLASSIF;RESTRSEXO;CAUSAOBITO;DESCRICAO;DESCRABREV;REFER;EXCLUIDOS\n"
    "A000;;;;Cólera devida a Vibrio cholerae 01, biótipo cholerae;A00.0 Colera dev V cholerae;;\n"
    "A001;;;;Cólera devida a Vibrio cholerae 01, biótipo El Tor;A00.1 Colera El Tor;;\n"
    "A00 ;;;;Cólera não especificada;A00 Colera NE;;\n"
    "A150;;;;Tuberculose pulmonar, com confirmação;A15.0 Tuberc pulmonar;;\n"
    "A200;;;;Peste bubônica;A20.0 Peste bubonica;;\n"
    "C000;;;;Neoplasia maligna do lábio superior externo;C00.0 Neopl lab sup ext;;\n"
    "T650;;;;Efeito tóxico do cianeto;T65.0 Efeito toxico cianeto;;\n"
    "t651;;;;Efeito tóxico de estricnina \"e seus sais\";T65.1 Estricnina;;\n"
    "Z990;;;;Dependência de aspirador;Z99.0 Depend aspirador;;\n".encode("latin1"))

# ---- structured OMS files (utf-8, ',') ----
# blocks.csv deliberately has NO chapter_code: with it present in both
# categories and blocks, the reference's run_etl crashes at the
# :175 merge (suffix conflict) — documented deviation in CidEtlSpec.
(STRUCT / "chapters.csv").write_text(
    "chapter_code,chapter_title\n"
    "A00-B99,Certain infectious and parasitic diseases\n"
    "C00-D48,Neoplasms\n", encoding="utf-8")
(STRUCT / "blocks.csv").write_text(
    "block_id,block_title\n"
    "A00-A09,Intestinal infectious diseases\n"
    "C00-C14,Malignant neoplasms of lip\n", encoding="utf-8")
(STRUCT / "categories.csv").write_text(
    "category_code,category_title,block_id,chapter_code\n"
    "A00,Cholera,A00-A09,A00-B99\n"
    "C00,\"Malignant neoplasm of lip, external\",C00-C14,C00-D48\n"
    "Z99,Dependence on machines,,\n", encoding="utf-8")
(STRUCT / "subcategories.csv").write_text(
    "subcategory_code,subcategory_title,category_code\n"
    "A00.0,\"Cholera due to Vibrio cholerae 01, biovar cholerae\",A00\n"
    "A00.1,Cholera due to Vibrio cholerae 01 biovar eltor,A00\n"
    "C00.0,Malignant neoplasm external upper lip,C00\n"
    "Z99.0,Dependence on aspirator,Z99\n", encoding="utf-8")
# DATASUS list: latin1 + ';' (first dialect in the cascade), messy
# codes needing trim/upper, one code absent from the structured side.
(STRUCT / "datasus.csv").write_bytes(
    "codigo;descricao\n"
    " a00.0 ;Cólera clássica (DATASUS)\n"
    "A00.9;Cólera não especificada (DATASUS)\n"
    "U99.9;Código de uso especial (DATASUS)\n".encode("latin1"))

# Same content in the other 3 dialects for the S1 cascade spec.
cascade = [("datasus_comma_latin1.csv", ",", "latin1"),
           ("datasus_semi_utf8.csv", ";", "utf-8"),
           ("datasus_comma_utf8.csv", ",", "utf-8")]
rows = [("codigo", "descricao"),
        (" a00.0 ", "Cólera clássica (DATASUS)"),
        ("A00.9", "Cólera não especificada (DATASUS)"),
        ("U99.9", "Código de uso especial (DATASUS)")]
for fname, sep, enc in cascade:
    (STRUCT / fname).write_bytes(
        "".join(sep.join(r) + "\n" for r in rows).encode(enc))

# ---- run the reference to freeze goldens ----
def run_ref(args, out):
    r = subprocess.run([sys.executable, str(REFERENCE), *args,
                        "--out", str(out)], capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout, r.stderr)
        raise SystemExit(f"reference failed for {out}")
    # pin the date column for clock-injected tests
    data = out.read_bytes().decode("utf-8-sig")
    data = re.sub(r"\d{4}-\d{2}-\d{2}", PINNED_DATE, data)
    out.write_bytes(b"\xef\xbb\xbf" + data.encode("utf-8"))
    print(out.name, "<-", r.stdout.strip().replace("\n", " | "))

run_ref(["--datasus_dir", str(OFFICIAL)], GOLDEN / "dir_mode.csv")
run_ref(["--datasus", str(STRUCT / "datasus.csv"),
         "--chapters", str(STRUCT / "chapters.csv"),
         "--blocks", str(STRUCT / "blocks.csv"),
         "--categories", str(STRUCT / "categories.csv"),
         "--subcategories", str(STRUCT / "subcategories.csv")],
        GOLDEN / "combined_mode.csv")
