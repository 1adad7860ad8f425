"""Seeded generator of raw structure files in the five ProteoFAV formats.

Writes plain text with its own formatting code (never the package's
writers, so a writer bug cannot hide a parser bug):

    <out>/mmcif/<entry>.cif                 mmCIF ``_atom_site`` loop
    <out>/dssp/<entry>.dssp                 DSSP fixed-width residue records
    <out>/sifts/<entry>.xml                 SIFTS residue-mapping XML
    <out>/validation/<entry>_validation.xml wwPDB validation report XML
    <out>/gff/<accession>.gff               UniProt GFF3 features

Planted edge cases (FIXTURES.md): insertion codes ('27A'), altloc atom
pairs, hydrogens, HETATM ions, DSSP '!' gap rows and '!*' chain breaks,
residues missing from DSSP and from the validation report, lowercase
SS-bonded cysteines, unobserved SIFTS residues and a reversed GFF interval.

Beside the files, ``generate`` returns (and writes to ``expected.json``)
the counts each pipeline stage must produce, computed from the generator's
own model of the data.
"""

from __future__ import annotations

import json
import os
import random
from urllib.parse import quote

# heavy atoms per residue (standard PDB names); the element is the first
# letter of the atom name for every atom listed here
RESIDUE_ATOMS = {
    "ALA": "N CA C O CB",
    "ARG": "N CA C O CB CG CD NE CZ NH1 NH2",
    "ASN": "N CA C O CB CG OD1 ND2",
    "ASP": "N CA C O CB CG OD1 OD2",
    "CYS": "N CA C O CB SG",
    "GLN": "N CA C O CB CG CD OE1 NE2",
    "GLU": "N CA C O CB CG CD OE1 OE2",
    "GLY": "N CA C O",
    "HIS": "N CA C O CB CG ND1 CD2 CE1 NE2",
    "ILE": "N CA C O CB CG1 CG2 CD1",
    "LEU": "N CA C O CB CG CD1 CD2",
    "LYS": "N CA C O CB CG CD CE NZ",
    "MET": "N CA C O CB CG SD CE",
    "PHE": "N CA C O CB CG CD1 CD2 CE1 CE2 CZ",
    "PRO": "N CA C O CB CG CD",
    "SER": "N CA C O CB OG",
    "THR": "N CA C O CB OG1 CG2",
    "TRP": "N CA C O CB CG CD1 CD2 NE1 CE2 CE3 CZ2 CZ3 CH2",
    "TYR": "N CA C O CB CG CD1 CD2 CE1 CE2 CZ OH",
    "VAL": "N CA C O CB CG1 CG2",
}
RESIDUES = sorted(RESIDUE_ATOMS)
ONE_LETTER = dict(zip(RESIDUES, "ARNDCQEGHILKMFPSTWYV"))
ATOM_SITE_FIELDS = (
    "group_PDB id type_symbol label_atom_id label_alt_id label_comp_id "
    "label_asym_id label_entity_id label_seq_id pdbx_PDB_ins_code Cartn_x "
    "Cartn_y Cartn_z occupancy B_iso_or_equiv pdbx_formal_charge auth_seq_id "
    "auth_comp_id auth_asym_id auth_atom_id pdbx_PDB_model_num"
).split()
SS_CODES = "HHHEEGTTS  "
SS_NAMES = {"H": "helix", "E": "strand", "G": "helix", "T": "turn",
            "S": "bend", " ": "loop"}
# annotation_aggregation drops these feature types by default
DROPPED_GFF_TYPES = ("Helix", "Beta strand", "Turn", "Chain")
KEPT_GFF_TYPES = ("Domain", "Region", "Metal binding", "Binding site",
                  "Natural variant", "Modified residue")

# per-mille rates of the planted edge cases
P_INSERTION = 8
P_ALTLOC = 20
P_DSSP_GAP = 15
P_VALIDATION_GAP = 10
P_SS_CYS = 300


def entry_name(i: int) -> str:
    """PDB-style four-character id, unique for i < 9 * 26**3."""
    a, b, c = (i // 676) % 26, (i // 26) % 26, i % 26
    return f"{1 + (i // 17576) % 9}{chr(97 + a)}{chr(97 + b)}{chr(97 + c)}"


def _chain_residues(rng: random.Random, n: int) -> list[dict]:
    """Residue model of one chain: author numbering starts at an offset,
    and an insertion code repeats the previous number ('27', '27A')."""
    out = []
    num = rng.randint(1, 120)
    for k in range(n):
        ins = ""
        if k and rng.randrange(1000) < P_INSERTION and not out[-1]["ins"]:
            num -= 1
            ins = "A"
        out.append({"num": num, "ins": ins, "comp": rng.choice(RESIDUES)})
        num += 1
    return out


def _shapes(rng: random.Random, n_entries: int, min_res: int, max_res: int,
            n_chains: int | None) -> list[dict]:
    """Per-entry chain lengths, homomer and hydrogen flags. The size
    distribution is fixed by its quantiles (1-4 chains skewed to one;
    lengths log-uniform squashed towards ``min_res``: many small chains,
    a few large), and the seed only decides which entry gets which shape,
    so every seed writes about the same number of atoms."""
    shapes = []
    for i in range(n_entries):
        q = (i + 0.5) / n_entries
        k = n_chains or (1 if q < 0.5 else 2 if q < 0.75 else 3 if q < 0.9 else 4)
        shapes.append({"chains": k, "homomer": k > 1 and i % 2 == 0,
                       "hydrogens": i % 5 == 2})
    n_total = sum(s["chains"] for s in shapes)
    lengths = [int(min_res * (max_res / min_res) ** (((j + 0.5) / n_total) ** 2))
               for j in range(n_total)]
    for s in shapes:
        s["lengths"] = [lengths.pop() for _ in range(s["chains"])]
        if s["homomer"]:
            s["lengths"] = [s["lengths"][0]] * s["chains"]
    rng.shuffle(shapes)
    return shapes


def _entry_model(rng: random.Random, shape: dict) -> dict:
    chains = []
    for c, n in enumerate(shape["lengths"]):
        if shape["homomer"] and chains:
            residues = [dict(r) for r in chains[0]["residues"]]
            unobserved = chains[0]["unobserved"]
        else:
            residues = _chain_residues(rng, n)
            unobserved = rng.randint(0, 6)
        for k, r in enumerate(residues):
            # chain ends stay in DSSP: a gap row beside a '!*' break would
            # make the break look like a BioUnit copy and suffix the chain
            r["dssp"] = k in (0, len(residues) - 1) or rng.randrange(1000) >= P_DSSP_GAP
            r["validation"] = rng.randrange(1000) >= P_VALIDATION_GAP
            r["altloc"] = rng.randrange(1000) < P_ALTLOC
            r["ss"] = rng.choice(SS_CODES)
        chains.append({"id": "ABCD"[c], "residues": residues,
                       "unobserved": unobserved})
    return {
        "chains": chains,
        "homomer": shape["homomer"],
        "hydrogens": shape["hydrogens"],
        "ions": rng.choice((0, 0, 1, 2)),
    }


def _atoms(rng: random.Random, model: dict) -> list[tuple]:
    """(group, element, atom, alt, comp, label_asym, entity, label_seq,
    ins, auth_seq, auth_asym, residue) per atom line, in file order."""
    rows = []
    for ci, chain in enumerate(model["chains"]):
        entity = 1 if model["homomer"] else ci + 1
        for li, r in enumerate(chain["residues"], start=1):
            names = RESIDUE_ATOMS[r["comp"]].split()
            for a in names:
                alts = ("A", "B") if r["altloc"] and a not in ("N", "CA", "C", "O") else (".",)
                for alt in alts:
                    rows.append(("ATOM", a[0], a, alt, r["comp"], chain["id"],
                                 entity, li, r["ins"], r["num"], chain["id"], r))
            if model["hydrogens"]:
                for h in ("H", "HA"):
                    rows.append(("ATOM", "H", h, ".", r["comp"], chain["id"],
                                 entity, li, r["ins"], r["num"], chain["id"], r))
    for k in range(model["ions"]):
        ion = ("FE", "ZN")[k % 2]
        rows.append(("HETATM", ion, ion, ".", ion, "EF"[k], 9, ".", "",
                     900 + k, "A", None))
    return rows


def _mmcif_text(name: str, rng: random.Random, atoms: list[tuple]) -> str:
    lines = [f"data_{name.upper()}", "#", "loop_"]
    lines += [f"_atom_site.{f}" for f in ATOM_SITE_FIELDS]
    x = y = z = 0.0
    for i, (grp, el, atom, alt, comp, lasym, ent, lseq, ins, aseq, aasym, _r) in enumerate(atoms, 1):
        x += rng.uniform(-1.5, 1.5)
        y += rng.uniform(-1.5, 1.5)
        z += rng.uniform(-1.5, 1.5)
        occ = "0.50" if alt != "." else "1.00"
        lines.append(
            f"{grp:<6} {i:<5} {el:<2} {atom:<4} {alt} {comp} {lasym} {ent} "
            f"{lseq} {ins or '?'} {x:.3f} {y:.3f} {z:.3f} {occ} "
            f"{rng.uniform(5, 90):.2f} ? {aseq} {comp} {aasym} {atom} 1"
        )
    lines.append("#")
    return "\n".join(lines) + "\n"


def _dssp_line(n: int, r: dict | None, chain: str, aa: str, acc: int,
               rng: random.Random) -> str:
    if r is None:  # '!' gap or '!*' chain break: blank residue fields
        head = f"{n:5d}" + " " * 7 + f"{aa:<3}"
        ss, angles = " ", (0.0, 360.0, 360.0, 360.0, 360.0)
    else:
        head = f"{n:5d}{r['num']:5d}{r['ins'] or ' '}{chain} {aa:<2}"
        ss = r["ss"]
        angles = (rng.uniform(-1, 1), rng.uniform(0, 180), rng.uniform(-180, 180),
                  rng.uniform(-180, 180), rng.uniform(-180, 180))
    head = head.ljust(16) + ss + " " * 8 + "   0   0 " + f"{acc:4d}"
    bonds = "      0, 0.0     0, 0.0     0, 0.0     0, 0.0"
    tail = "".join(f"{v:6.1f}" for v in angles[1:])
    return (head + bonds).ljust(85) + f"{angles[0]:6.3f}" + tail + "    0.0    0.0    0.0"


def _dssp_text(rng: random.Random, model: dict) -> tuple[str, int]:
    lines = [
        "==== Secondary Structure Definition by the program DSSP ====",
        "REFERENCE W. KABSCH AND C.SANDER, BIOPOLYMERS 22 (1983) 2577-2637",
        "  #  RESIDUE AA STRUCTURE BP1 BP2  ACC     N-H-->O    O-->H-N    "
        "N-H-->O    O-->H-N    TCO  KAPPA ALPHA  PHI   PSI    X-CA   Y-CA   Z-CA",
    ]
    n = 0
    for ci, chain in enumerate(model["chains"]):
        if ci:
            n += 1
            lines.append(_dssp_line(n, None, " ", "!*", 0, rng))
        gap_open = False
        for r in chain["residues"]:
            if not r["dssp"]:
                if not gap_open:
                    n += 1
                    lines.append(_dssp_line(n, None, " ", "!", 0, rng))
                gap_open = True
                continue
            gap_open = False
            aa = ONE_LETTER[r["comp"]]
            if aa == "C" and rng.randrange(1000) < P_SS_CYS:
                aa = "a"
            n += 1
            lines.append(_dssp_line(n, r, chain["id"], aa, rng.randint(0, 220), rng))
    return "\n".join(lines) + "\n", n


def _sifts_text(name: str, model: dict, accessions: list[str]) -> tuple[str, int]:
    ns = "http://www.ebi.ac.uk/pdbe/docs/sifts/eFamily.xsd"
    out = [f'<?xml version="1.0" encoding="UTF-8"?>',
           f'<entry xmlns="{ns}" dbSource="PDBe" dbAccessionId="{name}">',
           '  <listDB><db dbSource="PDB" dbVersion="30.12"/>'
           '<db dbSource="UniProt" dbVersion="2024.01"/></listDB>']
    n_rows = 0
    for chain, acc in zip(model["chains"], accessions):
        res = chain["residues"]
        total = chain["unobserved"] + len(res)
        out.append(f'  <entity type="protein" entityId="{chain["id"]}">')
        out.append(f'   <segment segId="{name}_{chain["id"]}_1_{total}" start="1" end="{total}">')
        out.append("    <listResidue>")
        for k in range(total):
            r = res[k - chain["unobserved"]] if k >= chain["unobserved"] else None
            comp = r["comp"] if r else "MET"
            pdb_num = f'{r["num"]}{r["ins"]}' if r else "null"
            out.append(
                f'     <residue dbSource="PDBe" dbCoordSys="PDBe" dbResNum="{k + 1}" dbResName="{comp}">'
                f'<crossRefDb dbSource="PDB" dbCoordSys="PDBresnum" dbAccessionId="{name}" '
                f'dbResNum="{pdb_num}" dbResName="{comp}" dbChainId="{chain["id"]}"/>'
                f'<crossRefDb dbSource="UniProt" dbCoordSys="UniProt" dbAccessionId="{acc}" '
                f'dbResNum="{k + 1}" dbResName="{ONE_LETTER[comp]}"/>'
                f'<crossRefDb dbSource="Pfam" dbCoordSys="UniProt" dbAccessionId="PF{len(res) % 997:05d}"/>'
                + (
                    f'<residueDetail dbSource="PDBe" property="codeSecondaryStructure">{r["ss"].strip() or "T"}</residueDetail>'
                    f'<residueDetail dbSource="PDBe" property="nameSecondaryStructure">{SS_NAMES[r["ss"]]}</residueDetail>'
                    if r else
                    '<residueDetail dbSource="PDBe" property="Annotation">Not_Observed</residueDetail>'
                )
                + "</residue>"
            )
            n_rows += 1
        out.append("    </listResidue>")
        out.append(
            f'    <listMapRegion><mapRegion start="1" end="{total}">'
            f'<db dbSource="UniProt" dbCoordSys="UniProt" dbAccessionId="{acc}" start="1" end="{total}"/>'
            "</mapRegion></listMapRegion>"
        )
        out.append("   </segment>")
        out.append("  </entity>")
    out.append("</entry>")
    return "\n".join(out) + "\n", n_rows


def _validation_text(name: str, rng: random.Random, model: dict) -> tuple[str, int]:
    out = ['<?xml version="1.0" encoding="UTF-8"?>', "<wwPDB-validation-information>",
           f'  <Entry pdbid="{name}" PDB-resolution="2.10"/>']
    n = 0
    for chain in model["chains"]:
        for r in chain["residues"]:
            if not r["validation"]:
                continue
            out.append(
                f'  <ModelledSubgroup model="1" chain="{chain["id"]}" resnum="{r["num"]}" '
                f'icode="{r["ins"] or " "}" resname="{r["comp"]}" altcode=" " said="{chain["id"]}" '
                f'ent="1" seq="." rsr="{rng.uniform(0, 0.6):.3f}" rsrz="{rng.uniform(-2, 3):.3f}" '
                f'rscc="{rng.uniform(0.6, 1):.3f}" rama="{rng.choice(("Favored", "Allowed", "OUTLIER"))}" '
                f'rota="{rng.choice(("t", "m", "p", "OUTLIER"))}" phi="{rng.uniform(-180, 180):.1f}" '
                f'psi="{rng.uniform(-180, 180):.1f}" avgoccu="1.00" owab="{rng.uniform(5, 80):.2f}" '
                f'NatomsEDS="{len(RESIDUE_ATOMS[r["comp"]].split())}"/>'
            )
            n += 1
    out.append("</wwPDB-validation-information>")
    return "\n".join(out) + "\n", n


def _gff_text(rng: random.Random, acc: int, length: int) -> tuple[str, int, set]:
    lines = ["##gff-version 3", f"##sequence-region {acc} 1 {length}"]
    sites: set[int] = set()
    feats = [("Chain", 1, length)]
    for _ in range(rng.randint(2, 8)):
        kind = rng.choice(KEPT_GFF_TYPES + ("Helix", "Turn", "Beta strand"))
        if kind in ("Domain", "Region") + ("Helix", "Turn", "Beta strand"):
            s = rng.randint(1, length)
            e = min(length, s + rng.randint(3, 60))
        else:
            s = e = rng.randint(1, length)
        feats.append((kind, s, e))
    if rng.random() < 0.3:  # reversed interval: contributes no residues
        feats.append(("Region", min(length, 20), 5))
    for i, (kind, s, e) in enumerate(feats):
        note = quote(f"{kind} {i}; synthetic", safe=" ")
        lines.append(f"{acc}\tUniProtKB\t{kind}\t{s}\t{e}\t.\t.\t.\t"
                     f"ID=PRO_{i:07d};Note={note}")
        if kind not in DROPPED_GFF_TYPES and s <= e:
            sites.update(range(s, e + 1))
    return "\n".join(lines) + "\n", len(feats), sites


def generate(out_dir: str, seed: int, n_entries: int, min_res: int = 100,
             max_res: int = 1000, n_chains: int | None = None) -> dict:
    """Write ``n_entries`` entries under ``out_dir`` and return the counts
    each stage must produce (also written to ``expected.json``). Chains
    per entry are drawn from 1-4 (skewed low) unless ``n_chains`` fixes
    them."""
    rng = random.Random(seed)
    for sub in ("mmcif", "dssp", "sifts", "validation", "gff"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    exp = {k: 0 for k in (
        "atoms", "atoms_no_h", "dssp_rows", "sifts_rows", "validation_rows",
        "gff_rows", "annotation_rows", "residue_rows", "input_bytes",
        "unmatched_dssp", "unmatched_validation", "unmatched_sifts",
        "annotation_attempted", "unmatched_annotation",
    )}
    exp["entries"] = {}
    acc_id = 0
    for i, shape in enumerate(_shapes(rng, n_entries, min_res, max_res, n_chains)):
        name = entry_name(i)
        model = _entry_model(rng, shape)
        accs = []
        for c, chain in enumerate(model["chains"]):
            if not (model["homomer"] and c):
                acc_id += 1
            accs.append(f"Q{seed % 100:02d}{acc_id:04d}")
        atoms = _atoms(rng, model)
        files = {
            f"mmcif/{name}.cif": _mmcif_text(name, rng, atoms),
        }
        files[f"dssp/{name}.dssp"], n_dssp = _dssp_text(rng, model)
        files[f"sifts/{name}.xml"], n_sifts = _sifts_text(name, model, accs)
        files[f"validation/{name}_validation.xml"], n_val = _validation_text(name, rng, model)
        sites_by_acc: dict[str, set] = {}
        for chain, acc in zip(model["chains"], accs):
            if acc in sites_by_acc:
                continue
            text, n_feat, sites = _gff_text(
                rng, acc, chain["unobserved"] + len(chain["residues"])
            )
            files[f"gff/{acc}.gff"] = text
            sites_by_acc[acc] = sites
            exp["gff_rows"] += n_feat
            exp["annotation_rows"] += len(sites)
        for rel, text in files.items():
            with open(os.path.join(out_dir, rel), "w") as fh:
                fh.write(text)
            exp["input_bytes"] += len(text.encode())

        uni_pos = {}
        for chain, acc in zip(model["chains"], accs):
            for k, r in enumerate(chain["residues"]):
                uni_pos[id(r)] = (acc, chain["unobserved"] + k + 1)
        n_no_h = 0
        residues = set()
        for a in atoms:
            r = a[-1]
            residues.add((a[10], a[9]))
            n_no_h += a[1] != "H"
            if r is None:  # HETATM ion: no residue-level source covers it
                exp["unmatched_dssp"] += 1
                exp["unmatched_validation"] += 1
                exp["unmatched_sifts"] += 1
                continue
            exp["unmatched_dssp"] += not r["dssp"]
            exp["unmatched_validation"] += not r["validation"]
            acc, pos = uni_pos[id(r)]
            exp["annotation_attempted"] += 1
            exp["unmatched_annotation"] += pos not in sites_by_acc[acc]
        exp["atoms"] += len(atoms)
        exp["atoms_no_h"] += n_no_h
        exp["dssp_rows"] += n_dssp
        exp["sifts_rows"] += n_sifts
        exp["validation_rows"] += n_val
        exp["residue_rows"] += len(residues)
        exp["entries"][name] = {"atoms_no_h": n_no_h, "atoms": len(atoms)}
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump(exp, fh, indent=1, sort_keys=True)
    return exp
