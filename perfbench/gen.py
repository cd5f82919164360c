#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes an MTSamples-shaped corpus the engine ingests through its CSV path:

  base.csv      the standing corpus (header mixes case, as the reference's
                CSV does; multi-line quoted transcriptions, null
                transcriptions, exact and near duplicates)
  incoming.csv  documents that arrive later as append batches; a share of
                them are near duplicates of base documents, so the
                MinHash vet has something to reject
  queries.txt   the query pool, one per line: the reference's ten
                evaluation queries first, then generated topic queries

The same seed always gives the same bytes.  Usage:

  python3 perfbench/gen.py --seed 7 --out DIR
"""
import argparse
import csv
import os
import random

# Sizes every run uses: base documents, incoming documents, pool queries.
DOCS = 2000
INCOMING = 400
QUERIES = 400

# The reference's ten evaluation queries (evaluation.py in the reference).
EVAL_QUERIES = [
    "post-operative knee arthroscopy pain management",
    "chest pain with ECG changes",
    "abdominal pain after appendectomy",
    "shortness of breath with asthma history",
    "lumbar spine MRI findings",
    "arthroscopic shoulder repair recovery",
    "ECG abnormalities in heart attack",
    "knee joint effusion",
    "diabetic foot ulcer treatment",
    "post-surgical infection management",
]

# Topic-structured clinical vocabularies.  Every term of the ten evaluation
# queries appears in at least one topic (checked in main()).
TOPICS = {
    "Orthopedic": "knee arthroscopy arthroscopic shoulder repair recovery joint effusion "
                  "meniscus ligament cartilage fracture lumbar spine mri findings "
                  "post-operative rotator cuff tendon brace swelling range motion "
                  "physical therapy weight bearing",
    "Cardiovascular / Pulmonary": "chest pain ecg changes abnormalities heart attack "
                  "troponin myocardial infarction angina stent catheterization "
                  "shortness of breath asthma history inhaler wheezing dyspnea "
                  "oxygen saturation murmur palpitations",
    "Gastroenterology": "abdominal pain after appendectomy nausea vomiting colonoscopy "
                  "endoscopy reflux bowel liver gallbladder cholecystectomy "
                  "tenderness distension biopsy polyp ulcer",
    "Endocrinology": "diabetic foot ulcer treatment insulin glucose hemoglobin a1c "
                  "thyroid neuropathy metformin wound debridement dressing "
                  "podiatry infection management",
    "Surgery": "post-surgical infection management incision drainage antibiotics "
               "wound sutures laparoscopic anesthesia hernia repair dressing "
               "post-operative recovery fever cultures",
    "Neurology": "headache seizure stroke numbness weakness mri findings eeg "
                 "migraine tremor gait cognitive lumbar puncture spine",
    "Radiology": "mri findings ct scan contrast lesion impression lumbar spine "
                 "disc herniation stenosis effusion ultrasound x-ray",
    "Urology": "hematuria kidney stone prostate cystoscopy catheter urinary "
               "retention infection flank pain lithotripsy",
    "Obstetrics / Gynecology": "pregnancy gestation ultrasound cesarean delivery "
                 "pelvic pain bleeding cervix uterus prenatal labor",
    "Psychiatry": "depression anxiety insomnia sertraline mood affect therapy "
                  "history substance counseling suicidal ideation",
    "Dermatology": "rash lesion biopsy eczema psoriasis pruritus excision "
                   "melanoma erythema topical steroid ulcer",
    "Nephrology": "dialysis creatinine renal failure edema hypertension "
                  "electrolytes potassium fistula proteinuria",
}

FILLER = ("the patient is a year old who presents with reports denies noted "
          "on examination there was no evidence of and the plan is to continue "
          "follow up in weeks was given instructions tolerated the procedure "
          "well without complications history of past medical surgical family "
          "social vital signs stable alert oriented assessment plan discussed "
          "risks benefits alternatives consent obtained").split()

FIRST = "Alice Bob Carol Dan Erin Frank Grace Hiro Ines Jamal Kim Lena Mateo Nia Omar Priya".split()
LAST = "Smith Jones Lee Garcia Okafor Chen Novak Haddad Silva Kowalski Ito Brown".split()
CITIES = "Boston Denver Seattle Austin Chicago Miami Portland Atlanta Phoenix Detroit".split()


def topic_words(spec):
    return TOPICS[spec].split()


def sentence(rng, spec):
    words = topic_words(spec)
    n = rng.randint(8, 16)
    out = []
    for _ in range(n):
        out.append(rng.choice(words) if rng.random() < 0.45 else rng.choice(FILLER))
    if rng.random() < 0.3:  # a second topic bleeds in, as real notes do
        other = rng.choice(sorted(TOPICS))
        out.insert(rng.randrange(len(out)), rng.choice(topic_words(other)))
    s = " ".join(out)
    return s[0].upper() + s[1:] + "."


def transcription(rng, spec):
    parts = [sentence(rng, spec) for _ in range(rng.randint(3, 6))]
    # multi-line quoted fields with both line-ending styles
    seps = [" ", "\n", "\r\n", "  "]
    return "".join(p + rng.choice(seps) for p in parts).strip()


def near_copy(rng, text):
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 25)):
        i = rng.randrange(len(toks))
        toks[i] = rng.choice(FILLER)
    return " ".join(toks)


def row(rng, idx, spec, text):
    return [idx,
            "Sample " + str(idx),
            spec if rng.random() > 0.03 else "",  # some specialties missing
            "sample_%d" % idx,
            text,
            ",".join(rng.sample(topic_words(spec), 3)),
            rng.choice(FIRST) + " " + rng.choice(LAST),
            rng.choice(["M", "F"]),
            str(rng.randint(18, 90)),
            rng.choice(CITIES)]


HEADER = ["", "description", "Medical_Specialty", "sample_name", "Transcription",
          "keywords", "Name", "Gender", "Age", "City"]


def corpus(rng, first_id, n, prior, near_share, exact_share, null_share):
    specs = sorted(TOPICS)
    rows = []
    for i in range(n):
        idx = first_id + i
        r = rng.random()
        pool = prior + rows
        if pool and r < exact_share:
            src = rng.choice(pool)
            rows.append(row(rng, idx, src[2] or specs[0], src[4]))
            rows[-1][2] = src[2]
        elif pool and r < exact_share + near_share:
            src = rng.choice(pool)
            # a near copy of a null transcription is null too
            text = None if src[4] is None else near_copy(rng, src[4])
            rows.append(row(rng, idx, src[2] or specs[0], text))
            rows[-1][2] = src[2]
        elif r < exact_share + near_share + null_share:
            rows.append(row(rng, idx, rng.choice(specs), None))
        else:
            spec = rng.choice(specs)
            rows.append(row(rng, idx, spec, transcription(rng, spec)))
    return rows


def write_csv(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow(HEADER)
        for r in rows:
            # a null transcription is an empty unquoted field, which Spark's
            # CSV reader reads as NULL
            w.writerow(["" if v is None else v for v in r])


def queries(rng, n):
    specs = sorted(TOPICS)
    out = list(EVAL_QUERIES)
    while len(out) < n:
        words = topic_words(rng.choice(specs))
        out.append(" ".join(rng.sample(words, rng.randint(2, 5))))
    return out


def generate(seed, out):
    vocab = set(w for ws in TOPICS.values() for w in ws.split())
    missing = [t for q in EVAL_QUERIES for t in q.lower().split()
               if t not in vocab and t not in FILLER]
    assert not missing, "evaluation terms missing from the vocabularies: %s" % missing
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    base = corpus(rng, 0, DOCS, [], near_share=0.03, exact_share=0.02, null_share=0.01)
    inc = corpus(rng, DOCS, INCOMING, base, near_share=0.15, exact_share=0.0, null_share=0.0)
    write_csv(os.path.join(out, "base.csv"), base)
    write_csv(os.path.join(out, "incoming.csv"), inc)
    with open(os.path.join(out, "queries.txt"), "w", encoding="utf-8") as f:
        for q in queries(rng, QUERIES):
            f.write(q + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
