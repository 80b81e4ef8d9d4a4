"""Output checks for the WordCount job: its `<job>-<r>.out` files and its
`<job>-log.out` event log. Each check returns a list of problems; an empty
list means the output is correct."""
import os

from corpus import digest


def check_wordcount(out_dir, job, reducers, expected, expected_digest):
    """The files must exist, each sorted by word, the files range-contiguous
    (every word of file r below every word of file r+1), and the merged
    `word count` lines equal to the generator's."""
    problems, merged, prev_last = [], [], None
    for r in range(1, reducers + 1):
        path = os.path.join(out_dir, f"{job}-{r}.out")
        if not os.path.isfile(path):
            problems.append(f"missing {job}-{r}.out")
            continue
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
        words = [line.split(" ", 1)[0] for line in lines]
        if any(a >= b for a, b in zip(words, words[1:])):
            problems.append(f"{job}-{r}.out is not sorted by word")
        if words:
            if prev_last is not None and words[0] <= prev_last:
                problems.append(f"{job}-{r}.out overlaps the range of the file before it")
            prev_last = words[-1]
        merged.extend(lines)
    if digest(merged) != expected_digest:
        diff = next((i for i, (a, b) in enumerate(zip(merged, expected)) if a != b),
                    min(len(merged), len(expected)))
        got = merged[diff] if diff < len(merged) else "<end>"
        want = expected[diff] if diff < len(expected) else "<end>"
        problems.append(f"counts differ at line {diff}: got {got!r}, want {want!r}")
    return problems


# fields after `<unixtime>,<kind>` for each line kind of the hw4 grammar
FIELDS = {"Start_Job": 9, "Dispatch_MapTask": 2, "Complete_MapTask": 2,
          "Dispatch_ReduceTask": 2, "Complete_ReduceTask": 2, "Finish_Job": 1}


def check_event_log(lines, finish_expected):
    """`Start_Job` first, every `Complete_*` after an unpaired `Dispatch_*`
    of the same task id, no `Dispatch_*` left unpaired, and `Finish_Job`
    last exactly when the application ended while the log was open."""
    problems, open_tasks = [], {}
    if not lines or lines[0].split(",")[1:2] != ["Start_Job"]:
        problems.append("first line is not Start_Job")
    for n, line in enumerate(lines):
        parts = line.split(",")
        if len(parts) < 2 or not parts[0].isdigit() or parts[1] not in FIELDS:
            problems.append(f"line {n + 1} is malformed: {line!r}")
            continue
        kind = parts[1]
        if len(parts) != 2 + FIELDS[kind]:
            problems.append(f"line {n + 1} has {len(parts) - 2} fields for {kind}")
            continue
        if kind == "Start_Job" and n > 0:
            problems.append(f"line {n + 1}: second Start_Job")
        elif kind == "Finish_Job" and n != len(lines) - 1:
            problems.append(f"line {n + 1}: Finish_Job is not last")
        elif kind.startswith("Dispatch_"):
            key = (kind[len("Dispatch_"):], parts[2])
            open_tasks[key] = open_tasks.get(key, 0) + 1
        elif kind.startswith("Complete_"):
            key = (kind[len("Complete_"):], parts[2])
            if open_tasks.get(key, 0) == 0:
                problems.append(f"line {n + 1}: {kind} {parts[2]} without a Dispatch")
            else:
                open_tasks[key] -= 1
    unpaired = sorted(k for k, v in open_tasks.items() if v)
    if unpaired:
        problems.append(f"Dispatch without Complete: {unpaired[:5]}")
    finished = bool(lines) and lines[-1].split(",")[1:2] == ["Finish_Job"]
    if finish_expected and not finished:
        problems.append("no Finish_Job after the application ended")
    if finished and not finish_expected:
        problems.append("Finish_Job before the application ended")
    return problems


def task_ms(lines, kind):
    """Summed task milliseconds of `Complete_<kind>` lines."""
    return sum(int(p[3]) for p in (l.split(",") for l in lines)
               if len(p) == 4 and p[1] == f"Complete_{kind}")
