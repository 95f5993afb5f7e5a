"""Open-loop publisher: a separate process that publishes envelope files
into a job's source directory on a fixed schedule.

File ``i`` is due at ``start_at + i * interval_s`` (epoch seconds) and
is published then, whether or not the job has kept up: it is written
to a staging directory beforehand and renamed into the source
directory at its due time, so the job never sees a partial file.  The
events are regenerated from the seed with ``workloads.events_for``, so
the benchmark process knows every event's expected outcome without
talking to this process.

At the end it writes a JSON log of ``[name, due, published]`` rows.

    python3 perfbench/publisher.py SPEC_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import events_for  # noqa: E402


def file_name(i: int) -> str:
    return f"ol-{i:05d}.json"


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    n_files, per_file = spec["files"], spec["events_per_file"]
    events = events_for(spec["workload"], spec["seed"], spec["phase"],
                        n_files * per_file)
    stage, src = spec["stage_dir"], spec["source_dir"]
    os.makedirs(stage, exist_ok=True)
    for i in range(n_files):
        chunk = events[i * per_file:(i + 1) * per_file]
        with open(os.path.join(stage, file_name(i)), "w") as f:
            f.write("".join(e.line + "\n" for e in chunk))
    log = []
    for i in range(n_files):
        due = spec["start_at"] + i * spec["interval_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = file_name(i)
        os.rename(os.path.join(stage, name), os.path.join(src, name))
        log.append([name, due, time.time()])
    tmp = spec["log_path"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.rename(tmp, spec["log_path"])


if __name__ == "__main__":
    main(sys.argv[1])
