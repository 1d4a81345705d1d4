"""Seeded Dataservice snapshot for the ``fhir_studies`` workload.

Writes all 14 endpoint tables (FIXTURES.md) as ``<endpoint>.parquet`` into
one directory and returns, per study, the number of FHIR resources of each
type the rows were planted to produce. Every value is a string or null, as
after the reference's ``clean_up_df``; missing-data sentinels, non-numeric
ages and volumes, unmapped free text and index files are planted on purpose.
Every study has the same size, and every row count is a function of the
row's position alone (families, diagnoses, specimens and files follow fixed
cycles), so every seed gives the same tables with the same row counts. The
seed draws ids and values only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_STUDIES = 6
PARTICIPANTS = 150  # per study
# per-position cycles that fix every row count
FAMILY_SIZES = (1, 2, 3, 3, 4)
DIAGNOSES = (0, 1, 1, 2)
PHENOTYPES = (0, 1, 2, 3, 1)
SPECIMENS = (1, 1, 2, 3)
FILES = (1, 1, 2)

AUDIT = {"uuid": "u", "created_at": "2020-01-01", "modified_at": "2020-01-02"}
SENTINELS = ("Not Reported", "Unknown", "Not Applicable", "Not Available", "Other")
RACES = ("White", "Asian", "Black or African American", "Other", "Unknown", "Some Free Text Race")
ETHNICITIES = ("Hispanic or Latino", "Not Hispanic or Latino", "Unknown", "Not Reported")
GENDERS = ("Male", "Female", "Unknown", "Other")
RELATIONS = ("Mother", "Father", "Brother", "Sister", "Twin Brother", "Maternal Aunt", "Some Unmapped Relation")
COMPOSITIONS = ("Blood", "Saliva", "Bone Marrow", "Tissue FFPE", "Some Unmapped Composition")
PROCUREMENT = ("Blood Draw", "Biopsy", "Autopsy", "Surgical Resections", "Not Reported")
DATA_TYPES = ("Aligned Reads", "gVCF", "Variant Calls", "Simple Nucleotide Variations")
FORMATS = ("cram", "bam", "vcf", "tbi")
DOMAINS = ("BIRTHDEFECT", "CANCER", "COVID19", "CANCERANDBIRTHDEFECT", "OTHER")
CENTERS = ("SC_DGDDMBVV", "SC_2ZBAMKK0", "SC_UNKNOWN1")


def _id_permutation(rng: np.random.Generator):
    """A seeded one-to-one map of sequence numbers onto 8-digit ids."""
    mult = int(rng.integers(1, 10**7)) * 10 + int(rng.choice((1, 3, 7, 9)))
    offset = int(rng.integers(0, 10**8))
    return lambda n: (n * mult + offset) % 10**8


def _age(rng: np.random.Generator) -> str | None:
    r = rng.random()
    if r < 0.1:
        return None
    if r < 0.15:
        return "not-a-number"
    return str(int(rng.integers(0, 7000)))


def _code(rng: np.random.Generator, prefix: str, width: int) -> str | None:
    r = rng.random()
    if r < 0.15:
        return rng.choice(SENTINELS)
    if r < 0.25:
        return None
    return f"{prefix}{int(rng.integers(0, 10**width)):0{width}d}"


def generate(seed: int, out_dir: str) -> dict[str, dict[str, int]]:
    """Write the snapshot under ``out_dir``; return ``{study_id: {target:
    planted resource count}}``."""
    rng = np.random.default_rng(seed)
    perm = _id_permutation(rng)

    def _kf(prefix: str, n: int) -> str:
        return f"{prefix}_{perm(n):08d}"

    rows: dict[str, list[dict]] = {name: [] for name in (
        "studies", "investigators", "participants", "families", "family-relationships",
        "diagnoses", "phenotypes", "outcomes", "biospecimen-diagnoses", "biospecimens",
        "biospecimen-genomic-files", "genomic-files", "sequencing-experiment-genomic-files",
        "sequencing-experiments",
    )}
    ids = dict.fromkeys(("PT", "FM", "FR", "DG", "PH", "OC", "BD", "BS", "BG", "GF", "SG", "SE"), 0)

    def nxt(prefix: str) -> str:
        ids[prefix] += 1
        return _kf(prefix, ids[prefix])

    planted: dict[str, dict[str, int]] = {}
    n_fam = n_pt = n_bs = n_gf = 0
    for s in range(1, N_STUDIES + 1):
        sid, ig = _kf("SD", s), _kf("IG", s)
        phs = rng.random() < 0.7
        rows["studies"].append({
            "kf_id": sid, "investigator_id": ig, "attribution": f"attr-{s}",
            "data_access_authority": "dbGaP", "domain": rng.choice(DOMAINS),
            "external_id": f"phs{int(rng.integers(1000, 3000)):06d}.v1.p1" if phs else f"ext-{s}",
            "name": f"Study {s}", "program": "Kids First", "release_status": "Released",
            "short_code": f"KF-S{s}", "short_name": f"S{s}", "version": "v1", "visible": "True",
        })
        rows["investigators"].append({
            "kf_id": ig, "external_id": f"inv-{s}", "institution": f"Hospital {s}",
            "name": f"Investigator {s}", "visible": "True",
        })
        count = dict.fromkeys(("Patient", "ProbandStatus", "FamilyRelationship", "Family",
                               "Disease", "Phenotype", "VitalStatus", "Specimen",
                               "Histopathology", "DRSDocumentReference"), 0)
        centers: set[str] = set()
        left = PARTICIPANTS
        while left > 0:
            size = min(left, FAMILY_SIZES[n_fam % len(FAMILY_SIZES)])
            n_fam += 1
            left -= size
            fam = nxt("FM") if size > 1 or n_fam % 2 else None
            if fam is not None:
                rows["families"].append({"kf_id": fam, "external_id": f"fam-{fam}", "visible": "True"})
                count["Family"] += 1
            members = []
            for m in range(size):
                pt = nxt("PT")
                n_pt += 1
                members.append(pt)
                proband = ("True" if m == 0 else "False") if n_pt % 20 else None
                count["Patient"] += 1
                count["ProbandStatus"] += proband is not None
                rows["participants"].append({
                    "kf_id": pt, "study_id": sid, "family_id": fam,
                    "affected_status": rng.choice(("True", "False")),
                    "diagnosis_category": rng.choice(("Cancer", "Structural Birth Defect")),
                    "external_id": f"p-{pt}" if rng.random() < 0.9 else None,
                    "ethnicity": rng.choice(ETHNICITIES), "gender": rng.choice(GENDERS),
                    "is_proband": proband, "race": rng.choice(RACES),
                    "species": "Homo Sapiens", "visible": "True",
                })
                diags = []
                for _ in range(DIAGNOSES[n_pt % len(DIAGNOSES)]):
                    dg = nxt("DG")
                    diags.append(dg)
                    count["Disease"] += 1
                    rows["diagnoses"].append({
                        "kf_id": dg, "participant_id": pt, "external_id": f"dg-{dg}",
                        "source_text_diagnosis": rng.choice(("Neuroblastoma", "Cleft palate", "Ependymoma")),
                        "diagnosis_category": "Cancer", "source_text_tumor_location": rng.choice(("Abdomen", None)),
                        "spatial_descriptor": None, "age_at_event_days": _age(rng),
                        "mondo_id_diagnosis": _code(rng, "MONDO:", 7), "icd_id_diagnosis": _code(rng, "C", 2),
                        "ncit_id_diagnosis": _code(rng, "NCIT:C", 4),
                        "uberon_id_tumor_location": _code(rng, "UBERON:", 7), "visible": "True",
                    })
                for _ in range(PHENOTYPES[n_pt % len(PHENOTYPES)]):
                    ph = nxt("PH")
                    count["Phenotype"] += 1
                    rows["phenotypes"].append({
                        "kf_id": ph, "participant_id": pt, "external_id": f"ph-{ph}",
                        "source_text_phenotype": rng.choice(("Macrocephaly", "Seizures")),
                        "hpo_id_phenotype": _code(rng, "HP:", 7), "snomed_id_phenotype": _code(rng, "", 8),
                        "observed": rng.choice(("Positive", "Negative")), "age_at_event_days": _age(rng),
                        "visible": "True",
                    })
                if n_pt % 5 < 3:
                    oc = nxt("OC")
                    count["VitalStatus"] += 1
                    rows["outcomes"].append({
                        "kf_id": oc, "participant_id": pt, "vital_status": rng.choice(("Alive", "Deceased")),
                        "age_at_event_days": _age(rng), "disease_related": rng.choice(("True", "False")),
                        "external_id": f"oc-{oc}", "visible": "True",
                    })
                for _ in range(SPECIMENS[n_pt % len(SPECIMENS)]):
                    bs = nxt("BS")
                    n_bs += 1
                    center = CENTERS[n_bs % len(CENTERS)]
                    centers.add(center)
                    count["Specimen"] += 1
                    rows["biospecimens"].append({
                        "kf_id": bs, "participant_id": pt, "sequencing_center_id": center,
                        "analyte_type": rng.choice(("DNA", "RNA", "Other")),
                        "composition": rng.choice(COMPOSITIONS),
                        "consent_type": rng.choice(("GRU", None)),
                        "dbgap_consent_code": rng.choice(("phs001138.c1", None)),
                        "external_aliquot_id": f"al-{bs}", "external_sample_id": rng.choice((f"sa-{bs}", None)),
                        "method_of_smaple_procurement": rng.choice(PROCUREMENT),
                        "ncit_id_anatomical_site": rng.choice(("NCIT:C12468", "XYZ:123", None)),
                        "ncit_id_tissue_type": rng.choice(("NCIT:C14165", None)),
                        "source_text_anatomical_site": rng.choice(("Arm", None)),
                        "source_text_tissue_type": rng.choice(("Normal", "Tumor")),
                        "source_text_tumor_descriptor": rng.choice(("Primary", "Unavailable", "N/A")),
                        "spatial_descriptor": None,
                        "uberon_id_anatomical_site": rng.choice(("UBERON:0002101", "EFO:0000001", None)),
                        "age_at_event_days": _age(rng),
                        "volume_ul": rng.choice(("5.5", "10", "bad-volume", None)), "visible": "True",
                    })
                    if diags:
                        bd = nxt("BD")
                        count["Histopathology"] += 1
                        rows["biospecimen-diagnoses"].append({
                            "kf_id": bd, "biospecimen_id": bs, "diagnosis_id": rng.choice(diags),
                            "external_id": f"bd-{bd}", "visible": "True",
                        })
                    se = None
                    for _ in range(FILES[n_bs % len(FILES)]):
                        gf = nxt("GF")
                        n_gf += 1
                        count["DRSDocumentReference"] += 1
                        fmt = rng.choice(FORMATS)
                        rows["genomic-files"].append({
                            "kf_id": gf, "latest_did": f"{ids['GF']:08d}-1111-2222-3333-{seed % 10**12:012d}",
                            "external_id": f"gf-{gf}", "is_harmonized": rng.choice(("True", "False")),
                            "reference_genome": "GRCh38", "availability": "Immediate Download",
                            "data_type": rng.choice(DATA_TYPES), "file_format": fmt,
                            "controlled_access": rng.choice(("True", "False")), "visible": "True",
                        })
                        bg = nxt("BG")
                        rows["biospecimen-genomic-files"].append({
                            "kf_id": bg, "biospecimen_id": bs, "genomic_file_id": gf,
                            "external_id": f"bg-{bg}", "visible": "True",
                        })
                        if n_gf % 10 < 7:
                            if se is None:
                                se = nxt("SE")
                                rows["sequencing-experiments"].append({
                                    "kf_id": se, "experiment_strategy": rng.choice(("WGS", "RNA-Seq", "WXS")),
                                    "external_id": f"se-{se}", "visible": "True",
                                })
                            sg = nxt("SG")
                            rows["sequencing-experiment-genomic-files"].append({
                                "kf_id": sg, "sequencing_experiment_id": se, "genomic_file_id": gf,
                                "external_id": f"sg-{sg}", "visible": "True",
                            })
            for other in members[1:]:
                fr = nxt("FR")
                count["FamilyRelationship"] += 1
                rows["family-relationships"].append({
                    "kf_id": fr, "participant1_id": other, "participant2_id": members[0],
                    "participant1_to_participant2_relation": rng.choice(RELATIONS),
                    "external_id": rng.choice((f"fr-{fr}", None)), "visible": "True",
                })
        count.update({
            "Practitioner": 1, "Organization": 1, "PractitionerRole": 1, "ResearchStudy": 1,
            "ResearchSubject": count["Patient"], "SequencingCenter": len(centers),
        })
        planted[sid] = count

    os.makedirs(out_dir, exist_ok=True)
    for endpoint, recs in rows.items():
        cols = sorted({k for r in recs for k in r} | set(AUDIT))
        data = {c: [r.get(c, AUDIT.get(c)) for r in recs] for c in cols}
        table = pa.table({c: pa.array(v, type=pa.string()) for c, v in data.items()})
        pq.write_table(table, os.path.join(out_dir, f"{endpoint}.parquet"))
    return planted
