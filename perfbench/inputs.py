"""Seeded inputs, generated before any timing.

Clip files come from the benchmark's Scala generator
(`scala/GenClips.scala`, which derives them through the program's public
`ClipGen`/`Codecs` functions) and are split here into one parquet file
per landing."""
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

import jvm


def generate(bench_cp, jsa, work, seed, files, per_file, shape, step_s, late_permille):
    out = os.path.join(work, "gen")
    jvm.run(jvm.java_cmd(bench_cp, "graftbench.GenClips",
                         [out, str(seed), str(files), str(per_file), shape,
                          str(step_s), str(late_permille)],
                         tmpdir=os.path.join(work, "tmp"), heap="1g",
                         extra=[f"-XX:SharedArchiveFile={jsa}"]),
            os.path.join(work, "logs", "gen.log"), timeout=170)
    return out


def split(gen_dir, dest):
    """Writes one parquet file per file_no into `dest`; returns the paths
    in file_no order."""
    t = pq.read_table(os.path.join(gen_dir, "clips"))
    os.makedirs(dest, exist_ok=True)
    nos = t.column("file_no")
    paths = []
    for k in sorted(set(nos.to_pylist())):
        p = os.path.join(dest, f"clips-{k:05d}.parquet")
        pq.write_table(t.filter(pc.equal(nos, k)).drop(["file_no"]).replace_schema_metadata(None), p)
        paths.append(p)
    return paths
