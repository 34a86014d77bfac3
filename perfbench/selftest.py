"""Self-test of the correctness check: it must fail on a corrupted table.

A tiny feed is applied and checked (must pass). Then one data file of
the final table is replaced by a corrupted copy — once with one live row
dropped, once with one row's content changed — and the check must fail
each time. With the original file restored it must pass again.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _corruptions(path: str):
    """(label, corrupted table) pairs for one data file."""
    t = pq.read_table(path)
    live = pc.invert(pc.fill_null(t["_deleted"], False)).to_numpy(zero_copy_only=False)
    i = int(live.nonzero()[0][0])
    keep = pa.array([j != i for j in range(t.num_rows)])
    content = t["content"].to_pylist()
    content[i] = content[i][::-1] + "x"
    changed = t.set_column(
        t.schema.get_field_index("content"), t.schema.field("content"),
        pa.array(content, t.schema.field("content").type),
    )
    return [("one live row dropped", t.filter(keep)), ("one content changed", changed)]


def _victim(table) -> str:
    """A data file of the current snapshot that holds a live row."""
    for f in sorted(table.changed_files(-1)):
        t = pq.read_table(f, columns=["_deleted"])
        if not all(t["_deleted"].to_pylist()):
            return f
    raise RuntimeError("no data file with a live row")


def selftest(args, host, work) -> int:
    import run
    from oracle import Oracle

    gen = run.Generator("selftest", args.seed, args.seconds, work)
    spark = run.start_session(host, work)
    oracle = None
    try:
        man = gen.wait()
        oracle = Oracle(man["feed_dir"], work)
        p = run.Pass(spark, man, work, "main").run("selftest")

        def problems():
            return run.check_pass(p, man, oracle, work)[0]

        results = [("clean table", problems(), False)]
        victim = _victim(p.table)
        # the local filesystem keeps a checksum beside each data file; a
        # rewritten file goes without one, as if written by another tool
        crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
        backup = os.path.join(work, "victim.bak")
        shutil.copyfile(victim, backup)
        shutil.copyfile(crc, backup + ".crc")
        for label, bad in _corruptions(victim):
            os.remove(crc)
            pq.write_table(bad, victim)
            results.append((label, problems(), True))
            shutil.copyfile(backup, victim)
            shutil.copyfile(backup + ".crc", crc)
        results.append(("restored table", problems(), False))
    finally:
        if oracle is not None:
            oracle.close()
        run.stop_session(spark)
        gen.proc.kill()
        gen.proc.wait()

    ok = True
    for label, probs, should_fail in results:
        caught = bool(probs)
        good = caught == should_fail
        ok &= good
        verdict = "caught" if caught else "passed"
        print(f"selftest: {label}: check {verdict} "
              f"({'as required' if good else 'WRONG'}) {probs}")
    print(f"selftest: {'OK' if ok else 'FAILED'}")
    return 0 if ok else 1
