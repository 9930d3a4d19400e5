"""Seeded input generator for the perfbench workloads.

Every record is a pure function of (seed, kind, index): `rng(seed, kind, i)`
builds a fresh generator per record, so any slice of the corpus can be
regenerated without the rest and the same seed always yields the same bytes.

Three input sets:

* FHIR R5 corpus (the ETL half of `fhir_pipeline`): one NDJSON file per
  type at the per-type counts of the reference's populated store
  (docs/images/graph-view.png, ~99.9 K resources once the assay output is
  counted) times `scale`, a fixed set of malformed lines planted for the
  reject channel, and update-create batches of Observations with distinct
  ids per batch.
* FHIR search store (the search half of `fhir_pipeline`): the
  `FhirSearch.overFixtures` layout over the same corpus - post-assay
  `DocumentReference.store`, the `ServiceRequest` assay output, the three
  `*.history` feeds, and `ValueSet`/`CodeSystem` copied from
  `fixtures/fhir`.
* LLM curation inputs (`llm_curation`): documents and embeddings
  replicated from the engine's sf0.01 test data (data/), with planted
  exact copies, word-deletion mutants and perturbed near-duplicate
  vectors, plus a fixed (seed-independent) admission stream built the
  same way.
"""
import functools
import hashlib
import json
import os
import random
import shutil

import numpy as np

# Per-type counts of the reference's populated store (graph-view.png).
# ServiceRequest (24,452) is not an input: the assay pipeline produces it.
REF_COUNTS = {
    "Patient": 537, "Specimen": 17121, "Group": 16,
    "DocumentReference": 27264, "Observation": 24911, "ImagingStudy": 2177,
    "Procedure": 1616, "MedicationAdministration": 1074, "Condition": 537,
    "ResearchSubject": 537, "Encounter": 20, "ResearchStudy": 1,
    "BodyStructure": 20,
}

CONDITIONS = [("44054006", "diabetes"), ("195967001", "asthma"),
              ("38341003", "hypertension"), ("13645005", "copd"),
              ("73211009", "diabetes mellitus"), ("35489007", "depression")]
LOINC = [("2339-0", "Glucose"), ("2160-0", "Creatinine"),
         ("718-7", "Hemoglobin"), ("2093-3", "Cholesterol")]
EXTS = [".maf", ".bed", ".vcf", ".sam", ".tsv", ".csv", ".txt", ".json",
        ".bam", ".R", ".yaml", ".md", ".pdf", ".unknownext"]
TAG_SYS = "https://example.org/tags"

# Malformed lines planted into the R5 corpus: (type, line). Each is a JSON
# syntax error, so the permissive reader must route it to the reject
# channel whatever schema it reads with.
MALFORMED = [
    ("Observation", '{"resourceType": "Observation", "id": "bad-obs-1"'),
    ("Observation", 'not json at all'),
    ("Observation", '{"resourceType": "Observation" "id": "bad-obs-3"}'),
    ("Patient", '{"resourceType": "Patient", "id": "bad-p-1",}'),
    ("Specimen", '{"resourceType": "Specimen", "id": '),
    ("DocumentReference", '{"resourceType": "DocumentReference", "id": "bad-doc-1", "content": [}'),
    ("DocumentReference", '<DocumentReference id="bad-doc-2"/>'),
    ("Condition", '{"resourceType": "Condition", "id": "bad-cond-1", "code": {"text": "x"}'),
    ("ImagingStudy", '{"resourceType": "ImagingStudy", "id": "bad-img-1", "status": }'),
    ("Procedure", '{"resourceType": "Procedure", "id": "bad-proc-1", "status": completed}'),
]

# One more line for the reject channel: single-quoted JSON, which the
# reference's json.loads rejects but FhirIO.readNdjsonPermissive accepts
# (Spark's JSON reader allows single quotes unless told otherwise). The
# engine counts it valid and carries it into the R4 output, so etl.ingest
# and etl.transform fail on it in every pass: the benchmark's known ETL
# fault. Its content and its position (the first line of its file) do not
# depend on the seed.
SINGLE_QUOTED = ("ImagingStudy", "bad-img-2",
                 "{'resourceType': 'ImagingStudy', 'id': 'bad-img-2', 'status': 'available'}")

KIND_IDS = {}


def rng(seed, kind, i):
    """A generator that depends only on (seed, kind, index)."""
    k = KIND_IDS.setdefault(kind, int(hashlib.md5(kind.encode()).hexdigest()[:8], 16))
    return random.Random((seed * 1_000_003 + k) * 10_000_019 + i)


def ri(r, a, b):
    """Uniform integer in [a, b]; cheaper than random.randint."""
    return a + int(r.random() * (b - a + 1))


def rb(r, n):
    return int(r.random() * n)


def pick(r, seq):
    return seq[int(r.random() * len(seq))]


def counts(scale):
    return {t: max(1, round(n * scale)) for t, n in REF_COUNTS.items()}


def pid(i):
    return f"p-{i:05d}"


def spid(i):
    return f"sp-{i:06d}"


def gid(i):
    return f"g-{i:03d}"


def day(r, y0, y1):
    return f"{ri(r, y0, y1)}-{ri(r, 1, 12):02d}-{ri(r, 1, 28):02d}"


def instant(r, y0, y1):
    return f"{day(r, y0, y1)}T{ri(r, 0, 23):02d}:{ri(r, 0, 59):02d}:00Z"


def meta(r, tag):
    return {"lastUpdated": instant(r, 2023, 2024),
            "tag": [{"system": TAG_SYS, "code": tag}]}


# ---------------------------------------------------------------- FHIR R5

class Corpus:
    """The FHIR corpus of one seed at one scale, record by record."""

    def __init__(self, seed, scale):
        self.seed = seed
        self.n = counts(scale)
        n_docs = self.n["DocumentReference"]
        # document subject mix: ~1 % Group-subject (assay pass 1), ~89.6 %
        # Specimen-subject (assay pass 2; the reference's 24,452 Assays),
        # a few Specimen refs that resolve to no Specimen, the rest Patient
        self.n_group_docs = max(1, n_docs // 100)
        self.n_spec_docs = round(n_docs * 0.896)
        self.n_missing_spec = max(1, n_docs // 2000)

    def patient_of(self, kind, i):
        return pid(rb(rng(self.seed, kind + ".subj", i), self.n["Patient"]))

    def patient(self, i):
        r = rng(self.seed, "Patient", i)
        fam = f"Family{i:05d}"
        cond = pick(r, CONDITIONS)[1]
        return {"resourceType": "Patient", "id": pid(i),
                "text": {"status": "generated",
                         "div": f'<div xmlns="http://www.w3.org/1999/xhtml"><p>Patient <b>{fam}</b>, '
                                f'active record.</p><p>History of {cond}.</p></div>'},
                "name": [{"family": fam, "given": [f"Given{i:05d}"]}],
                "identifier": [{"use": "official", "system": "http://hospital.example.org/mrn",
                                "value": f"ID-{i:05d}"}],
                "gender": pick(r, ["male", "female"]),
                "birthDate": day(r, 1930, 2005), "active": r.random() < 0.9,
                "meta": meta(r, pick(r, ["batch-a", "batch-b"]))}

    def specimen(self, i):
        r = rng(self.seed, "Specimen", i)
        s = {"resourceType": "Specimen", "id": spid(i),
             "subject": {"reference": "Patient/" + self.patient_of("Specimen", i)},
             "meta": meta(r, "ffpe")}
        if r.random() < 0.5:
            s["processing"] = [{"method": {"coding": [
                {"system": "http://snomed.info/sct", "code": f"pm-{ri(r, 1, 9)}"}]}}]
        if r.random() < 0.5:
            s["collection"] = {"procedure": {"reference": f"Procedure/proc-{ri(r, 1, 99):05d}"},
                               "bodySite": {"text": f"site-{ri(r, 1, 9)}"}}
        return s

    def group(self, i):
        r = rng(self.seed, "Group", i)
        members = [{"entity": {"reference": "Specimen/" + spid(rb(r, self.n["Specimen"]))}}
                   for _ in range(ri(r, 2, 6))]
        if i % 5 == 3:     # a group with no Specimen members is never claimed
            members = [{"entity": {"reference": "Patient/" + pid(rb(r, self.n["Patient"]))}}]
        elif i % 5 == 4:   # a member without a reference, and an unknown specimen
            members += [{"entity": {"display": "no reference"}},
                        {"entity": {"reference": f"Specimen/sp-missing-{i}"}}]
        return {"resourceType": "Group", "id": gid(i), "membership": "definitional",
                "type": "specimen", "member": members, "meta": meta(r, "adhoc")}

    def doc_subject(self, i, r):
        if i < self.n_group_docs:
            return "Group/" + gid(rb(r, self.n["Group"]))
        j = i - self.n_group_docs
        if j < self.n_missing_spec:
            return f"Specimen/sp-missing-doc-{j}"
        if j < self.n_spec_docs:
            return "Specimen/" + spid(rb(r, self.n["Specimen"]))
        return "Patient/" + pid(rb(r, self.n["Patient"]))

    def docref(self, i):
        r = rng(self.seed, "DocumentReference", i)
        ext = pick(r, EXTS)
        att = {"size": ri(r, 100, 10 ** 7), "title": f"file-{i}{ext}"}
        if r.random() < 0.7:
            att["url"] = f"https://portal.example.org/files/{i}/file-{i}{ext}"
        d = {"resourceType": "DocumentReference", "id": f"doc-{i:06d}",
             "version": str(ri(r, 1, 3)), "status": "current",
             "subject": {"reference": self.doc_subject(i, r)},
             "content": [{"attachment": att}], "meta": meta(r, "ingest")}
        if r.random() < 0.8:
            d["content"][0]["profile"] = [{"valueCoding": {
                "system": "https://dcc.example.org/format", "code": f"FMT{ri(r, 1, 5)}"}}]
        return d

    def observation(self, i, version=None):
        r = rng(self.seed, "Observation" if version is None else f"Observation.v{version}", i)
        code, disp = pick(r, LOINC)
        o = {"resourceType": "Observation", "id": f"obs-{i:06d}",
             "status": "final" if r.random() < 0.9 else pick(r, ["amended", "preliminary"]),
             "code": {"coding": [{"system": "http://loinc.org", "code": code, "display": disp}],
                      "text": disp.lower()},
             "subject": {"reference": "Patient/" + self.patient_of("Observation", i)},
             "effectiveDateTime": instant(r, 2015, 2024),
             "category": [{"coding": [{"system": "http://terminology.hl7.org/CodeSystem/observation-category",
                                       "code": "laboratory"}]}],
             "valueQuantity": {"value": round(1 + r.random() * 199, 1), "unit": "g/dL",
                               "system": "http://unitsofmeasure.org", "code": "g/dL"},
             "meta": meta(r, "routine")}
        return o

    def condition(self, i):
        r = rng(self.seed, "Condition", i)
        code, text = pick(r, CONDITIONS)
        return {"resourceType": "Condition", "id": f"cond-{i:05d}",
                "clinicalStatus": {"coding": [{"system": "http://terminology.hl7.org/CodeSystem/condition-clinical",
                                               "code": pick(r, ["active", "resolved"])}]},
                "code": {"coding": [{"system": "http://snomed.info/sct", "code": code}], "text": text},
                "subject": {"reference": "Patient/" + self.patient_of("Condition", i)},
                "onsetDateTime": day(r, 2000, 2020), "recordedDate": day(r, 2020, 2024),
                "meta": meta(r, "claims")}

    def procedure(self, i):
        r = rng(self.seed, "Procedure", i)
        return {"resourceType": "Procedure", "id": f"proc-{i:05d}", "status": "completed",
                "code": {"coding": [{"system": "http://snomed.info/sct", "code": f"8015{ri(r, 1000, 9999)}"}],
                         "text": f"procedure-{ri(r, 1, 50)}"},
                "subject": {"reference": "Patient/" + self.patient_of("Procedure", i)},
                "performedDateTime": instant(r, 2010, 2024), "meta": meta(r, "claims")}

    def imaging(self, i):
        r = rng(self.seed, "ImagingStudy", i)
        s = {"resourceType": "ImagingStudy", "id": f"img-{i:05d}", "status": "available",
             "series": [{"uid": f"1.2.{i}.{k}", "modality": {"coding": [
                 {"system": " http://dicom.nema.org/resources/ontology/DCM",
                  "code": pick(r, ["MR", "CT", "US"])}]}} for k in range(ri(r, 1, 3))],
             "subject": {"reference": "Patient/" + self.patient_of("ImagingStudy", i)},
             "started": instant(r, 2015, 2024), "meta": meta(r, "modality-sync")}
        if r.random() < 0.3:
            s["basedOn"] = [{"reference": f"ServiceRequest/sr-{ri(r, 1, 999)}"}]
        return s

    def medadmin(self, i):
        r = rng(self.seed, "MedicationAdministration", i)
        m = {"resourceType": "MedicationAdministration", "id": f"med-{i:05d}", "status": "completed",
             "subject": {"reference": "Patient/" + self.patient_of("MedicationAdministration", i)},
             "occurenceDateTime": instant(r, 2015, 2024), "meta": meta(r, "pharmacy")}
        if r.random() < 0.8:
            m["medication"] = {"concept": {"coding": [
                {"system": f"https://cadsr.cancer.gov'{ri(r, 1, 9)}'", "code": f"c-{ri(r, 1, 99)}"}]}}
        else:
            m["medication"] = {"reference": {"reference": f"Medication/m-{ri(r, 1, 99)}"}}
        if r.random() < 0.5:
            m["category"] = [{"coding": [{"system": "s", "code": f"cat-{ri(r, 1, 4)}"}]}]
        return m

    def research_subject(self, i):
        r = rng(self.seed, "ResearchSubject", i)
        return {"resourceType": "ResearchSubject", "id": f"rsub-{i:05d}", "status": "active",
                "study": {"reference": "ResearchStudy/rs-0"},
                "subject": {"reference": "Patient/" + pid(i % self.n["Patient"])},
                "meta": meta(r, "migrated")}

    def research_study(self, i):
        r = rng(self.seed, "ResearchStudy", i)
        return {"resourceType": "ResearchStudy", "id": f"rs-{i}", "status": "active",
                "title": f"Study {i}", "meta": meta(r, "manual")}

    def encounter(self, i):
        r = rng(self.seed, "Encounter", i)
        e = {"resourceType": "Encounter", "id": f"enc-{i:04d}", "status": "completed",
             "meta": meta(r, "clinic")}
        if i % 4:
            e["class"] = {"coding": [{"system": "http://terminology.hl7.org/CodeSystem/v3-ActCode",
                                      "code": pick(r, ["AMB", "IMP", "EMER"])}]}
        if i % 3 == 0:
            e["reason"] = [{"use": [{"text": "checkup"}]}]
            e["reference"] = [{"reference": f"Condition/cond-{ri(r, 0, 99):05d}"}]
        return e

    def body_structure(self, i):
        r = rng(self.seed, "BodyStructure", i)
        return {"resourceType": "BodyStructure", "id": f"body-{i:04d}",
                "patient": {"reference": "Patient/" + self.patient_of("BodyStructure", i)},
                "includedStructure": [{"structure": {"coding": [
                    {"system": "http://snomed.info/sct", "code": f"3960{ri(r, 1000, 9999)}"}]}}]}

    MAKERS = {
        "Patient": "patient", "Specimen": "specimen", "Group": "group",
        "DocumentReference": "docref", "Observation": "observation",
        "ImagingStudy": "imaging", "Procedure": "procedure",
        "MedicationAdministration": "medadmin", "Condition": "condition",
        "ResearchSubject": "research_subject", "Encounter": "encounter",
        "ResearchStudy": "research_study", "BodyStructure": "body_structure",
    }

    def records(self, t):
        make = getattr(self, self.MAKERS[t])
        return [make(i) for i in range(self.n[t])]

    # update-create batches: Observations re-sent with new content; ids are
    # distinct inside a batch and overlap across batches
    def store_batches(self, n_batches, batch_size):
        n_obs = self.n["Observation"]
        out = []
        for b in range(n_batches):
            r = rng(self.seed, "store.batch", b)
            ids = r.sample(range(n_obs), min(batch_size, n_obs))
            out.append([self.observation(i, version=b + 2) for i in sorted(ids)])
        return out


def dumps(rec):
    return json.dumps(rec, separators=(",", ":"))


def write_lines(path, lines):
    with open(path, "w") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def write_r5(corpus, out_dir, recs):
    """The R5 input corpus (`recs`, {type: [records]}) with the malformed
    lines planted at seeded positions and the single-quoted line first."""
    os.makedirs(out_dir, exist_ok=True)
    for t in REF_COUNTS:
        lines = [dumps(x) for x in recs[t]]
        bad = [line for (bt, line) in MALFORMED if bt == t]
        r = rng(corpus.seed, "malformed." + t, 0)
        for line in bad:   # seeded positions, fixed content
            lines.insert(ri(r, 0, len(lines)), line)
        if t == SINGLE_QUOTED[0]:
            lines.insert(0, SINGLE_QUOTED[2])
        write_lines(os.path.join(out_dir, f"{t}.ndjson"), lines)


def write_store_batches(corpus, out_dir, n_batches, batch_size):
    os.makedirs(out_dir, exist_ok=True)
    batches = corpus.store_batches(n_batches, batch_size)
    for b, rs in enumerate(batches):
        write_lines(os.path.join(out_dir, f"batch-{b}.ndjson"), [dumps(x) for x in rs])
    return batches


# ------------------------------------------------------------ FHIR store

def write_search_store(corpus, recs, assay, out_dir, fixtures_dir):
    """The FhirSearch.overFixtures layout over the corpus: current-state
    tables, the post-assay DocumentReference store and ServiceRequests
    from the assay replay, three history feeds, terminology copied from
    the committed fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for t, rs in recs.items():
        if t == "DocumentReference":
            continue
        write_lines(os.path.join(out_dir, f"{t}.ndjson"), [dumps(x) for x in rs])
    store_docs = []
    for d in assay["documents"]:
        d = dict(d)
        r = rng(corpus.seed, "doc.date", int(d["id"].split("-")[1]))
        d["date"] = instant(r, 2020, 2024)
        store_docs.append(d)
    write_lines(os.path.join(out_dir, "DocumentReference.store.ndjson"),
                [dumps(x) for x in store_docs])
    write_lines(os.path.join(out_dir, "DocumentReference.ndjson"),
                [dumps(x) for x in recs["DocumentReference"]])
    write_lines(os.path.join(out_dir, "ServiceRequest.ndjson"),
                [dumps(x) for x in assay["assays"]])
    # history feeds: version 1 of every 10th resource, plus a version 2
    for t, rs in (("Patient", recs["Patient"]), ("Observation", recs["Observation"]),
                  ("DocumentReference", recs["DocumentReference"])):
        lines = []
        for x in rs[::10]:
            for v in (1, 2):
                h = json.loads(dumps(x))
                h.setdefault("meta", {})["versionId"] = str(v)
                h["meta"]["lastUpdated"] = f"202{v + 2}-01-01T00:00:00Z"
                lines.append(dumps(h))
        write_lines(os.path.join(out_dir, f"{t}.history.ndjson"), lines)
    for t in ("ValueSet", "CodeSystem"):
        shutil.copyfile(os.path.join(fixtures_dir, f"{t}.ndjson"),
                        os.path.join(out_dir, f"{t}.ndjson"))


# ---------------------------------------------------------- LLM curation

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]   # TextOps.stopwords("en")
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
_BASE = {}


def base_corpus():
    """The engine's sf0.01 test documents and embeddings (copied under
    data/): (texts, float64 vectors, relabelled words), both in id order.
    The relabelled words are the non-stopwords that occur in at least a
    tenth of the documents; rarer words (the test data's `dup` marker of
    its near-duplicate pairs) keep their spelling, so relabelling keeps
    every word's frequency."""
    if not _BASE:
        import pyarrow.parquet as pq
        d = pq.read_table(os.path.join(DATA, "documents.parquet"),
                          columns=["doc_id", "text"]).to_pydict()
        e = pq.read_table(os.path.join(DATA, "embeddings.parquet"),
                          columns=["vec_id", "embedding"]).to_pydict()
        texts = [t for _, t in sorted(zip(d["doc_id"], d["text"]))]
        vecs = np.array([v for _, v in sorted(zip(e["vec_id"], e["embedding"]))], np.float64)
        df = {}
        for t in texts:
            for w in set(t.split(" ")):
                df[w] = df.get(w, 0) + 1
        words = sorted(w for w, n in df.items() if n * 10 >= len(texts) and w not in STOPWORDS)
        _BASE.update(texts=texts, vecs=vecs, words=words)
    return _BASE["texts"], _BASE["vecs"], _BASE["words"]


def replica_text(seed, kind, i):
    """Text of document i of a set: base document `order[i % n]` of
    replica i // n, whose words are relabelled by a permutation of the
    common vocabulary drawn per (seed, kind, replica). Relabelling keeps
    each document's length, type/token ratio and stopword share (so its
    quality score) and the n-gram structure inside a replica (the test
    data's near-duplicate pairs stay pairs), while two replicas of one
    base document share about as few word 3-grams as two unrelated ones."""
    texts = base_corpus()[0]
    k, j = divmod(i, len(texts))
    order, rename = text_replica(seed, kind, k)
    return " ".join(rename.get(w, w) for w in texts[order[j]].split(" "))


@functools.lru_cache(maxsize=None)
def text_replica(seed, kind, k):
    """(base document order, word relabelling) of one text replica."""
    texts, _, words = base_corpus()
    order = list(range(len(texts)))
    rng(seed, kind + ".order", k).shuffle(order)
    perm = list(words)
    rng(seed, kind + ".relabel", k).shuffle(perm)
    return order, dict(zip(words, perm))


def mutant(text, every):
    """Drop every `every`-th word: a near duplicate of `text`."""
    toks = text.split(" ")
    return " ".join(t for k, t in enumerate(toks) if (k + 1) % every)


def documents(seed, n, kind="docs", id_base=0, earlier=None):
    """n documents replicated from the test data (`replica_text`); ~3 %
    are planted exact copies and ~4 % word-deletion mutants (every 15th
    word dropped) of earlier documents (or of `earlier`, a list of
    (doc_id, text) that precede this set). Returns [(doc_id, text, plant)]
    with plant None, ("exact", src) or ("mutant", src)."""
    out = []
    pool = list(earlier or [])
    for i in range(n):
        r = rng(seed, kind, i)
        did = id_base + i
        u = r.random()
        src = pool[r.randrange(len(pool))] if pool and u < 0.07 else None
        if src and u < 0.03:
            out.append((did, src[1], ("exact", src[0])))
        elif src and len(src[1].split(" ")) >= 45:
            out.append((did, mutant(src[1], 15), ("mutant", src[0])))
        else:
            out.append((did, replica_text(seed, kind, i), None))
        pool.append(out[-1][:2])
    return out


def embeddings(seed, n, near_share=0.04):
    """n unit vectors replicated from the test data's 64-dimensional
    embeddings: vector i is base vector `order[i % m]` of replica i // m
    under a signed coordinate permutation drawn per (seed, replica), which
    keeps every cosine inside a replica and decorrelates replicas. ~4 %
    are instead an earlier vector plus noise of sigma 0.01 (planted near
    duplicates). Returns (float32 matrix, {planted index: source index})."""
    _, base, _ = base_corpus()
    m, dims = base.shape
    out = np.empty((n, dims), dtype=np.float32)
    planted, replicas = {}, {}
    for i in range(n):
        g = np.random.default_rng([seed, 2, i])
        if i > 0 and g.random() < near_share:
            j = int(g.integers(0, i))
            v = out[j].astype(np.float64) + g.normal(scale=0.01, size=dims)
            planted[i] = j
        else:
            k, j = divmod(i, m)
            if k not in replicas:
                rep = np.random.default_rng([seed, 3, k])
                replicas[k] = (rep.permutation(m), rep.permutation(dims),
                               rep.choice([-1.0, 1.0], size=dims))
            order, axes, signs = replicas[k]
            v = base[order[j]][axes] * signs
        out[i] = (v / np.linalg.norm(v)).astype(np.float32)
    return out, planted


def write_docs_parquet(path, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"doc_id": pa.array([d for d, _, _ in docs], pa.int64()),
                             "text": pa.array([t for _, t, _ in docs], pa.string())}), path)


def write_vecs_parquet(path, ids, mat):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                             "embedding": pa.array(list(mat), pa.list_(pa.float32()))}), path)


ADMISSION_SEED = 0  # the admission stream never varies with --seed


def admission_inputs(history, segments, segment_size):
    """The fixed admission stream: a history (seeded into the LSH index
    and the Bloom state) and `segments` NDJSON segments whose planted
    copies/mutants point at history or earlier segments."""
    hist = documents(ADMISSION_SEED, history, kind="adm.hist", id_base=10_000_000)
    prior = [(d, t) for d, t, _ in hist]
    segs = []
    for s in range(segments):
        seg = documents(ADMISSION_SEED, segment_size, kind=f"adm.seg{s}",
                        id_base=20_000_000 + s * 1_000_000, earlier=prior)
        segs.append(seg)
        prior += [(d, t) for d, t, _ in seg]
    return hist, segs
