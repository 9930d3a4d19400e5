"""Expected results, computed apart from the engine.

* ETL: a Python replay of assay.py semantics (in the way of
  tools/ref_mimic_assay.py) over the generated records, Python's
  `uuid.uuid5` for pass-2 Assay ids, line counts per type, and the
  version each id must reach after the update-create batches.
* Search: one DuckDB `read_ndjson_objects` query per request of the mix.

Results are canonicalised the way perfbench.Search does it: rows rendered
as '|'-joined strings, sorted unless the request fixes an order, joined by
newlines, and md5-hashed.
"""
import hashlib
import uuid

import duckdb

from gen import MALFORMED, REF_COUNTS, SINGLE_QUOTED


def digest(rows, ordered=False):
    lines = ["|".join(str(v) for v in r) for r in rows]
    if not ordered:
        lines.sort()
    return {"rows": len(lines), "md5": hashlib.md5("\n".join(lines).encode()).hexdigest()}


def ref_id(ref):
    parts = ref.split("/")
    return parts[1] if len(parts) > 1 else None


def mime(title, url):
    """Content type for the generated search store (any deterministic
    choice is valid there; the ETL check does not depend on it)."""
    name = title or (url or "").rsplit("/", 1)[-1]
    ext = name.rsplit(".", 1)[-1].lower() if "." in name else ""
    return {"json": "application/json", "pdf": "application/pdf",
            "csv": "text/csv"}.get(ext, "application/octet-stream")


def assay_replay(docs, groups, specimens):
    """assay.py over parsed records: pass 1 over groups, pass 2 over the
    Specimen-subject documents no group claimed."""
    spec_patient = {}
    for s in specimens:                         # dict semantics: last wins
        spec_patient[s["id"]] = (s.get("subject") or {}).get("reference")
    claimed = {}
    for g in groups:
        refs, patient = [], None
        for m in g.get("member") or []:
            ref = (m.get("entity") or {}).get("reference")
            if ref is None or not ref.startswith("Specimen/"):
                continue
            refs.append(ref)
            p = spec_patient.get(ref_id(ref))
            if p is not None:
                patient = p                      # last member with a patient
        if patient is not None and refs:
            claimed[g["id"]] = (patient, refs)
    assays, out_docs, pass2_ids = [], [], []
    n_pass1_docs = n_pass2_docs = 0
    for gid, (patient, refs) in claimed.items():
        assays.append(service_request(gid, patient, refs))
    for d in docs:
        ref = (d.get("subject") or {}).get("reference")
        key = ref_id(ref) if ref else None
        if key in claimed:
            n_pass1_docs += 1
            out_docs.append(rewrite(d, key, claimed[key][0]))
        elif ref and ref.startswith("Specimen/") and key in spec_patient:
            n_pass2_docs += 1
            aid = str(uuid.uuid5(uuid.NAMESPACE_DNS, d["id"] + "-assay"))
            pass2_ids.append(aid)
            assays.append(service_request(aid, spec_patient[key], [ref]))
            out_docs.append(rewrite(d, aid, spec_patient[key]))
        else:
            out_docs.append(d)
    return {"assays": assays, "documents": out_docs,
            "groups": [g for g in groups if g["id"] not in claimed],
            "n_pass1": len(claimed), "n_pass2": len(pass2_ids),
            "pass2_ids": pass2_ids,
            "n_rewritten": n_pass1_docs + n_pass2_docs}


def service_request(aid, patient, refs):
    return {"resourceType": "ServiceRequest", "id": aid, "status": "completed",
            "intent": "order",
            "category": [{"coding": [{"system": "http://snomed.info/sct", "code": "108252007",
                                      "display": "Laboratory procedure"}]}],
            "code": {"coding": [{"system": "http://snomed.info/sct", "code": "15220000",
                                 "display": "Laboratory test"}]},
            "subject": {"reference": patient},
            "text": {"status": "generated", "div": "<div>Autogenerated Assay.</div>"},
            "specimen": [{"reference": r} for r in refs]}


def rewrite(d, aid, patient):
    d = {k: v for k, v in d.items() if k != "version"}
    content = [dict(c) for c in d.get("content") or []]
    if content:
        c0 = {k: v for k, v in content[0].items() if k != "profile"}
        att = dict(c0.get("attachment") or {})
        att["contentType"] = mime(att.get("title"), att.get("url"))
        c0["attachment"] = att
        content[0] = c0
    d["content"] = content
    d["subject"] = {"reference": patient}
    related = list(((d.get("context") or {}).get("related")) or [])
    d["context"] = {"related": related + [{"reference": "ServiceRequest/" + aid}]}
    return d


def etl_expected(recs, assay, batches):
    valid = {t: len(rs) for t, rs in recs.items()}
    rejected = {t: sum(1 for bt, _ in MALFORMED if bt == t) + (t == SINGLE_QUOTED[0])
                for t in REF_COUNTS}
    r4 = dict(valid)
    r4["DocumentReference"] = sum(
        1 for d in recs["DocumentReference"]
        if "Specimen" not in ((d.get("subject") or {}).get("reference") or ""))
    carried = {}
    for b in batches:
        for o in b:
            carried[o["id"]] = carried.get(o["id"], 0) + 1
    bumped = sorted((i, 1 + n) for i, n in carried.items())
    return {
        "valid": valid, "rejected": rejected,
        "single_quoted": {"type": SINGLE_QUOTED[0], "id": SINGLE_QUOTED[1]},
        "lines_read": sum(valid.values()) + sum(rejected.values()),
        "r4_lines": r4,
        "assays": len(assay["assays"]), "assay_pass2": assay["n_pass2"],
        "assay_pass2_ids": digest([[i] for i in assay["pass2_ids"]]),
        "assay_documents": len(assay["documents"]),
        "assay_rewritten": assay["n_rewritten"],
        "assay_groups": len(assay["groups"]),
        "store_ids": len(recs["Observation"]),
        "store_bumped": digest([[i, v] for i, v in bumped]),
    }


# ------------------------------------------------------------------ search

def search_mix(patient_id):
    """(class, request, result kind) - kind is ids, ids_ordered, rows or
    total; rows are (resourceType, id, mode)."""
    return [
        ("simple", "Patient?gender=female", "ids"),
        ("simple", "Observation?code=http://loinc.org|2339-0", "ids"),
        ("simple", "DocumentReference?date=ge2023-04-01&date=lt2023-08-01", "ids"),
        ("simple", "Patient?_sort=birthdate&_count=25&_page=2", "ids_ordered"),
        ("join", "Observation?subject:Patient.gender=female", "ids"),
        ("join", "Patient?_has:ServiceRequest:subject:status=completed", "ids"),
        ("join", "Observation?code=http://loinc.org|2160-0&_include=Observation:subject", "rows"),
        ("join", "Patient?birthdate=ge1990-01-01&_revinclude=Specimen:subject", "rows"),
        ("join", f"Patient/{patient_id}/$everything", "rows"),
        ("count", "Observation?status=final&_total=accurate&_count=0", "total"),
        ("count", "DocumentReference?_summary=count", "total"),
        ("count", "Specimen?subject:Patient.gender=male&_summary=count", "total"),
        ("text", "Patient?_text=diabetes", "ids"),
        ("text", "Condition?_content=asthma", "ids"),
    ]


EVERYTHING = [  # (type, reference path) of the patient compartment
    ("BodyStructure", "$.patient.reference"), ("Condition", "$.subject.reference"),
    ("DocumentReference", "$.subject.reference"), ("ImagingStudy", "$.subject.reference"),
    ("MedicationAdministration", "$.subject.reference"), ("Observation", "$.subject.reference"),
    ("Procedure", "$.subject.reference"), ("ResearchSubject", "$.subject.reference"),
    ("ServiceRequest", "$.subject.reference"), ("Specimen", "$.subject.reference"),
]


def search_expected(store, patient_id):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = {t: f"{store}/{t}.ndjson" for t, _ in EVERYTHING + [("Patient", None)]}
    files["DocumentReference"] = f"{store}/DocumentReference.store.ndjson"
    for t, path in files.items():
        con.execute(f"CREATE VIEW {t} AS SELECT json AS j FROM "
                    f"read_ndjson_objects('{path}')")
    con.execute(f"CREATE VIEW ConditionRaw AS SELECT column0 AS line FROM "
                f"read_csv('{store}/Condition.ndjson', columns={{'column0': 'VARCHAR'}}, "
                f"delim=chr(1), quote='', escape='', header=false)")
    s = "json_extract_string"
    coded = ("len(list_filter(from_json(j->'$.code.coding', "
             "'[{{\"system\":\"VARCHAR\",\"code\":\"VARCHAR\"}}]'), "
             "c -> c.system = '{}' AND c.code = '{}')) > 0")
    female = f"SELECT 'Patient/' || {s}(j, '$.id') FROM Patient WHERE lower({s}(j, '$.gender')) LIKE 'female%'"
    male = f"SELECT 'Patient/' || {s}(j, '$.id') FROM Patient WHERE lower({s}(j, '$.gender')) LIKE 'male%'"
    q = {
        "Patient?gender=female":
            f"SELECT {s}(j, '$.id') FROM Patient WHERE lower({s}(j, '$.gender')) LIKE 'female%'",
        "Observation?code=http://loinc.org|2339-0":
            f"SELECT {s}(j, '$.id') FROM Observation WHERE " + coded.format("http://loinc.org", "2339-0"),
        "DocumentReference?date=ge2023-04-01&date=lt2023-08-01":
            f"SELECT {s}(j, '$.id') FROM DocumentReference WHERE {s}(j, '$.date') >= '2023-04-01' "
            f"AND {s}(j, '$.date') < '2023-08-01'",
        "Patient?_sort=birthdate&_count=25&_page=2":
            f"SELECT {s}(j, '$.id') FROM Patient ORDER BY {s}(j, '$.birthDate') ASC NULLS LAST, "
            f"{s}(j, '$.id') ASC LIMIT 25 OFFSET 25",
        "Observation?subject:Patient.gender=female":
            f"SELECT {s}(j, '$.id') FROM Observation WHERE {s}(j, '$.subject.reference') IN ({female})",
        "Patient?_has:ServiceRequest:subject:status=completed":
            f"SELECT {s}(j, '$.id') FROM Patient WHERE {s}(j, '$.id') IN (SELECT "
            f"split_part({s}(j, '$.subject.reference'), '/', 2) FROM ServiceRequest "
            f"WHERE lower({s}(j, '$.status')) LIKE 'completed%')",
        "Observation?code=http://loinc.org|2160-0&_include=Observation:subject":
            f"WITH m AS (SELECT * FROM Observation WHERE " + coded.format("http://loinc.org", "2160-0") + ") "
            f"SELECT 'Observation', {s}(j, '$.id'), 'match' FROM m UNION ALL "
            f"SELECT DISTINCT split_part(r, '/', 1), split_part(r, '/', 2), 'include' FROM "
            f"(SELECT {s}(j, '$.subject.reference') AS r FROM m) WHERE r IS NOT NULL",
        "Patient?birthdate=ge1990-01-01&_revinclude=Specimen:subject":
            f"WITH m AS (SELECT {s}(j, '$.id') AS id FROM Patient WHERE {s}(j, '$.birthDate') >= '1990-01-01') "
            f"SELECT 'Patient', id, 'match' FROM m UNION ALL "
            f"SELECT DISTINCT 'Specimen', {s}(j, '$.id'), 'revinclude' FROM Specimen "
            f"WHERE {s}(j, '$.subject.reference') IN (SELECT 'Patient/' || id FROM m)",
        f"Patient/{patient_id}/$everything":
            f"SELECT 'Patient', {s}(j, '$.id'), 'match' FROM Patient WHERE {s}(j, '$.id') = '{patient_id}' "
            + "".join(f"UNION ALL SELECT '{t}', {s}(j, '$.id'), 'match' FROM {t} "
                      f"WHERE {s}(j, '{path}') = 'Patient/{patient_id}' " for t, path in EVERYTHING),
        "Observation?status=final&_total=accurate&_count=0":
            f"SELECT count(*) FROM Observation WHERE lower({s}(j, '$.status')) LIKE 'final%'",
        "DocumentReference?_summary=count": "SELECT count(*) FROM DocumentReference",
        "Specimen?subject:Patient.gender=male&_summary=count":
            f"SELECT count(*) FROM Specimen WHERE {s}(j, '$.subject.reference') IN ({male})",
        "Patient?_text=diabetes":
            f"SELECT {s}(j, '$.id') FROM Patient WHERE contains(lower(regexp_replace(regexp_replace("
            f"{s}(j, '$.text.div'), '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')), 'diabetes')",
        "Condition?_content=asthma":
            f"SELECT {s}(j, '$.id') FROM Condition WHERE {s}(j, '$.id') IN (SELECT "
            f"json_extract_string(line, '$.id') FROM ConditionRaw WHERE contains(lower(line), 'asthma'))",
    }
    out = []
    for cls, req, kind in search_mix(patient_id):
        rows = con.execute(q[req]).fetchall()
        if kind == "total":
            exp = {"total": int(rows[0][0])}
        else:
            exp = digest(rows, ordered=(kind == "ids_ordered"))
        out.append({"class": cls, "request": req, "kind": kind, **exp})
    con.close()
    return out
