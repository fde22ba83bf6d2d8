"""Count code lines: lines holding a token that is not a comment, a
docstring (a string statement), a newline or indentation."""
import io, sys, tokenize

def code_lines(path):
    src = open(path, encoding="utf-8").read()
    lines = set()
    prev = tokenize.INDENT
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        kind = tok.type
        if kind in (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
                    tokenize.DEDENT, tokenize.ENDMARKER):
            if kind != tokenize.COMMENT:
                prev = kind
            continue
        if kind == tokenize.STRING and prev in (tokenize.INDENT, tokenize.DEDENT, tokenize.NEWLINE):
            prev = kind  # docstring / bare string statement
            continue
        prev = kind
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)

total = 0
for p in sys.argv[1:]:
    n = code_lines(p); total += n
    print(f"{n:6d} {p}")
print(f"{total:6d} total")
